"""The stdlib event-log parser on a tiny recorded log.

``data/tiny_eventlog.jsonl`` is a real Spark 4.1 event log, trimmed to
the events the parser reads: a grouped aggregate run under job group
``op1/1`` and a ``mapInPandas`` under ``op2/4``, both with noop writes,
AQE on, ``local[2]``."""

import os

import pytest

from perfbench.trace import attach_jobs, layer_metrics, parse_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return parse_event_log(LOG)


def test_jobs_carry_group_interval_and_stages(log):
    groups = sorted({j["group"] for j in log["jobs"].values()})
    assert groups == ["op1/1", "op2/4"]
    for j in log["jobs"].values():
        assert j["end"] is not None and j["end"] >= j["start"]
        assert j["stages"] and j["exec_id"] is not None


def test_task_sums(log):
    stages = log["stages"].values()
    # the aggregate ran a 2-task map stage and a 1-task reduce stage,
    # the mapInPandas one 2-task stage
    assert sum(s["tasks"] for s in stages) == 5
    assert sum(s["completed"] for s in stages) == 3
    assert sum(s["shuffle_write_b"] for s in stages) > 0
    assert sum(s["shuffle_read_b"] for s in stages) > 0
    assert sum(s["run_s"] for s in stages) > 0
    assert sum(s["cpu_s"] for s in stages) > 0
    # only the mapInPandas job ships rows to Python workers
    assert sum(s["py_sent_b"] for s in stages) > 0
    assert sum(s["py_recv_b"] for s in stages) > 0


def test_aqe_replans_counted(log):
    assert sum(log["aqe"].values()) >= 1


def test_jobs_attach_to_spans_from_the_log(log):
    starts = [j["start"] for j in log["jobs"].values()]
    ends = [j["end"] for j in log["jobs"].values()]
    lo, hi = min(starts) - 1.0, max(ends) + 1.0
    spans = [
        {"id": 0, "name": "op", "parent": None, "op": "op1", "start": lo, "end": hi},
        {"id": 1, "name": "spark.action", "parent": 0, "op": "op1", "start": lo, "end": hi},
    ]
    full = attach_jobs(spans, log)
    n_op1 = sum(1 for j in log["jobs"].values() if j["group"] == "op1/1")
    assert sum(1 for s in full if s["name"] == "spark.job") == n_op1
    m = layer_metrics(spans, log)
    assert m["jobs"] == n_op1
    assert sum(m["self_s"].values()) == pytest.approx(m["ops_wall_s"])

