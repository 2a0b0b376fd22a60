"""Tracing for the per-layer run: in-memory spans recorded by the
benchmark around each call into a layer, a stdlib parser for Spark's
uncompressed event log, and the arithmetic that turns both into
per-layer metrics.

A span has a name, a start and end (epoch seconds, the clock Spark's
event log also uses), a parent span and an op id; the spans of one op
share the op id. While tracing, every span also sets the Spark job group
to ``<op id>/<span id>``, so each job in the event log is attributed to
the innermost span that launched it and becomes a ``spark.job`` child of
that span.

A span's *self time* is its duration minus the part of its interval that
its children cover. Self times of an op's spans sum to the op's wall
time, which is how the per-layer split accounts for every op.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Keeps spans in memory; :meth:`dump` writes them out at the end.
    A disabled tracer records nothing and touches no Spark state."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None or s["op"] is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{s['op']}/{s['id']}", s["name"])

    def dump(self, path: str, log: dict | None = None) -> None:
        """Write the spans, with ``log``'s jobs attached as children."""
        with open(path, "w") as fh:
            json.dump(attach_jobs(self.spans, log) if log else self.spans, fh)


# ---------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------

_AQE_EVENT = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict:
    """Jobs (with job group, interval, stages, SQL execution id), per-stage
    task sums, and AQE re-plans per SQL execution, from an uncompressed,
    non-rolling event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    aqe: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                    "exec_id": int(exec_id) if exec_id is not None else None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, _empty_stage())["completed"] += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], _empty_stage()), ev)
            elif kind == _AQE_EVENT:
                aqe[ev["executionId"]] = aqe.get(ev["executionId"], 0) + 1
    return {"jobs": jobs, "stages": stages, "aqe": aqe}


def _empty_stage() -> dict:
    return {
        "completed": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "deser_s": 0.0, "sched_delay_s": 0.0, "shuffle_read_b": 0.0,
        "shuffle_write_b": 0.0, "spill_b": 0.0, "input_b": 0.0,
        "py_sent_b": 0.0, "py_recv_b": 0.0,
    }


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    run = m.get("Executor Run Time", 0) / 1000.0
    deser = m.get("Executor Deserialize Time", 0) / 1000.0
    ser = m.get("Result Serialization Time", 0) / 1000.0
    st["run_s"] += run
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["deser_s"] += deser
    wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
    getting = info.get("Getting Result Time", 0)
    fetch = (info.get("Finish Time", 0) - getting) / 1000.0 if getting else 0.0
    st["sched_delay_s"] += max(0.0, wall - run - deser - ser - fetch)
    rd = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0
    )
    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") == _PY_SENT:
            st["py_sent_b"] += _num(acc.get("Update"))
        elif acc.get("Name") == _PY_RECV:
            st["py_recv_b"] += _num(acc.get("Update"))


def find_event_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    logs = [
        f for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {logs}")
    return os.path.join(log_dir, logs[0])


# ---------------------------------------------------------------------
# Spans + event log → per-layer metrics
# ---------------------------------------------------------------------

def attach_jobs(spans: list[dict], log: dict) -> list[dict]:
    """Spans plus one ``spark.job`` child per job whose group names a
    span, its interval clipped to that span."""
    by_id = {s["id"]: s for s in spans}
    out = list(spans)
    for jid, j in sorted(log["jobs"].items()):
        g = j["group"]
        if not g or "/" not in g or j["end"] is None:
            continue
        sid = g.rsplit("/", 1)[1]
        if not sid.isdigit() or int(sid) not in by_id:
            continue
        p = by_id[int(sid)]
        a, b = max(j["start"], p["start"]), min(j["end"], p["end"])
        out.append({
            "id": len(out), "name": "spark.job", "parent": p["id"],
            "op": p["op"], "start": a, "end": max(a, b), "job_id": jid,
        })
    return out


def layer_metrics(spans: list[dict], log: dict) -> dict:
    """Per-layer sums over the ops in ``spans`` (every span with an op id).

    - ``span_s``: layer span name → summed duration (time in the call);
    - ``self_s``: layer span name → summed self time (for ``spark.job``,
      the union of each span's job intervals); these add up to
      ``ops_wall_s``, the summed wall time of the ops;
    - ``driver_s``: op wall time not covered by any of its jobs;
    - Spark job/stage/task counts and task sums of those ops' jobs;
    - ``eager_jobs``: jobs launched inside ``workload.build`` spans.
    """
    spans = [s for s in spans if s["op"] is not None]
    full = attach_jobs(spans, log)
    selfs = self_times(full)
    ops = [s for s in full if s["name"] == "op"]
    job_spans = [s for s in full if s["name"] == "spark.job"]
    by_op: dict[str, list] = {}
    for s in job_spans:
        by_op.setdefault(s["op"], []).append((s["start"], s["end"]))
    span_s: dict[str, float] = {}
    self_s: dict[str, float] = {}
    jobs_under: dict[int, list] = {}
    for s in full:
        span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end"] - s["start"]
        if s["name"] == "spark.job":
            jobs_under.setdefault(s["parent"], []).append((s["start"], s["end"]))
        else:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + selfs[s["id"]]
    # jobs of one span may run concurrently (a broadcast beside the main
    # job): the job layer occupies the union of their intervals
    self_s["spark.job"] = sum(
        covered(iv, min(a for a, _ in iv), max(b for _, b in iv))
        for iv in jobs_under.values()
    )
    names = {s["id"]: s["name"] for s in full}
    eager = sum(1 for s in job_spans if names[s["parent"]] == "workload.build")
    job_ids = {s["job_id"] for s in job_spans}
    stage_ids = {sid for j in job_ids for sid in log["jobs"][j]["stages"]}
    stage_sum = _empty_stage()
    for sid in stage_ids:
        st = log["stages"].get(sid)
        if st is not None:
            for k in stage_sum:
                stage_sum[k] += st[k]
    exec_ids = {
        log["jobs"][j]["exec_id"] for j in job_ids
        if log["jobs"][j]["exec_id"] is not None
    }
    return {
        "ops_wall_s": sum(s["end"] - s["start"] for s in ops),
        "span_s": span_s,
        "self_s": self_s,
        "driver_s": sum(
            (o["end"] - o["start"]) - covered(by_op.get(o["op"], []), o["start"], o["end"])
            for o in ops
        ),
        "jobs": len(job_ids),
        "eager_jobs": eager,
        "stages": stage_sum["completed"],
        "tasks": stage_sum["tasks"],
        "aqe_replans": sum(log["aqe"].get(e, 0) for e in exec_ids),
        "task": stage_sum,
    }
