"""Self-time arithmetic and span/job attribution on synthetic spans."""

import pytest

from perfbench.trace import Tracer, attach_jobs, covered, layer_metrics, self_times


def _span(i, name, parent, start, end, op="o1"):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(1, 3), (2, 5)], 2.5, 4) == pytest.approx(1.5)
    assert covered([], 0, 1) == 0.0
    assert covered([(5, 6)], 0, 1) == 0.0


def test_self_time_is_duration_minus_child_cover():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "workload.build", 0, 1.0, 3.0),
        _span(2, "spark.action", 0, 3.0, 9.0),
        _span(3, "spark.job", 2, 4.0, 6.0),
        _span(4, "spark.job", 2, 5.0, 8.0),  # overlaps job 3
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 8.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(6.0 - 4.0)
    assert st[3] == pytest.approx(2.0) and st[4] == pytest.approx(3.0)


def _log(*jobs):
    return {
        "jobs": {
            j: {"group": g, "start": a, "end": b, "stages": [j], "exec_id": j}
            for j, (g, a, b) in enumerate(jobs)
        },
        "stages": {
            j: {
                "completed": 1, "tasks": 2, "run_s": 1.0, "cpu_s": 0.5,
                "deser_s": 0.1, "sched_delay_s": 0.05, "shuffle_read_b": 10.0,
                "shuffle_write_b": 10.0, "spill_b": 0.0, "input_b": 100.0,
                "py_sent_b": 0.0, "py_recv_b": 0.0,
            }
            for j in range(len(jobs))
        },
        "aqe": {0: 2},
    }


def test_jobs_attach_to_the_span_named_by_their_group_and_are_clipped():
    spans = [_span(0, "op", None, 0.0, 10.0), _span(1, "spark.action", 0, 2.0, 9.0)]
    log = _log(("o1/1", 1.0, 4.0), ("other", 3.0, 4.0), ("o1/7", 3.0, 4.0))
    full = attach_jobs(spans, log)
    jobs = [s for s in full if s["name"] == "spark.job"]
    assert len(jobs) == 1
    assert (jobs[0]["parent"], jobs[0]["start"], jobs[0]["end"]) == (1, 2.0, 4.0)


def test_layer_self_times_account_for_op_wall():
    spans = [
        _span(0, "op", None, 0.0, 4.0, op="a"),
        _span(1, "workload.build", 0, 0.5, 1.5, op="a"),
        _span(2, "spark.action", 0, 1.5, 3.5, op="a"),
        _span(3, "op", None, 5.0, 6.0, op="b"),
        _span(4, "versioned.merge", 3, 5.1, 5.9, op="b"),
    ]
    log = _log(("a/1", 0.8, 1.2), ("a/2", 2.0, 3.0), ("b/4", 5.2, 5.8))
    m = layer_metrics(spans, log)
    assert m["ops_wall_s"] == pytest.approx(5.0)
    assert sum(m["self_s"].values()) == pytest.approx(m["ops_wall_s"])
    assert m["eager_jobs"] == 1
    assert m["jobs"] == 3 and m["stages"] == 3 and m["tasks"] == 6
    # op a: 4.0 s minus 0.4 + 1.0 s of jobs; op b: 1.0 minus 0.6
    assert m["driver_s"] == pytest.approx(2.6 + 0.4)
    assert m["span_s"]["versioned.merge"] == pytest.approx(0.8)
    assert m["aqe_replans"] == 2


def test_concurrent_jobs_count_once_in_the_job_layer():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "spark.action", 0, 1.0, 9.0),
    ]
    log = _log(("o1/1", 2.0, 6.0), ("o1/1", 4.0, 8.0))
    m = layer_metrics(spans, log)
    assert m["self_s"]["spark.job"] == pytest.approx(6.0)
    assert sum(m["self_s"].values()) == pytest.approx(10.0)
    assert m["driver_s"] == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op", op="x"):
        with t.span("inner"):
            pass
    assert t.spans == []


def test_enabled_tracer_nests_and_inherits_op():
    t = Tracer(True)
    with t.span("op", op="x", kind="q"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "x"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert outer["kind"] == "q"
