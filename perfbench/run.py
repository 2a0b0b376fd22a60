#!/usr/bin/env python3
"""Benchmark entry point.

``python3 perfbench/run.py --workload {catalog_queries,lake_ingest}
--seed N --seconds S --trace {0,1}``, from the repository root.

One process, one client thread, against ``local[min(nproc, 8)]``. A run:

1. makes the inputs (``datagen``; the seed drives op order and lake
   deliveries) inside ``.perfbench_work/`` under the checkout;
2. sets up: builds the session, builds the fixtures three times (the
   median counts) and runs one checked pass over every op kind;
3. measures a fixed amount of work sized from ``--seconds``;
4. checks the outputs, and prints one JSON object as the last line:
   the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
   measured work runs twice, untraced and traced passes interleaved,
   and the line holds the per-layer metrics.

Lines before the last one carry the run stamp and details (reps per op
kind, per-kind medians, reasons for absent per-layer figures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = 0.01
HEAP = "1g"
FIXTURE_REPEATS = 3
# passes over every query (lake cycles) measured per 20 s of --seconds,
# about 20 s (lake: 30 s) on a 4-core host: the work is fixed by
# --seconds, never by how fast this host happens to run. Two measured
# lake cycles spread 13-27% run to run, three 8-11% (a median of three
# per write verb instead of the mean of two)
REPS_PER_20S = {"catalog_queries": 2, "lake_ingest": 3}
WORKLOADS = tuple(REPS_PER_20S)


def _passes(workload: str, seconds: int) -> int:
    return max(1, round(REPS_PER_20S[workload] * seconds / 20))


def _emit(obj: dict) -> None:
    print(json.dumps(obj, separators=(",", ":")), flush=True)


def _median_sentinel() -> float:
    from perfbench.metrics import host_sentinel

    return statistics.median(host_sentinel() for _ in range(3))


class _Jvm:
    """JVM-side counters read over py4j: pid, GC time, heap pool peaks."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        return [
            p for p in self.mf.getMemoryPoolMXBeans()
            if str(p.getType().toString()) == "Heap memory"
        ]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


def _phase(wl, workload: str, tracers: list, jvm) -> dict:
    """Run the fixed measured work: one pass over every query (or one
    lake cycle) per entry of ``tracers``, each under its tracer. Returns
    latencies per op kind, wall and CPU, summed separately over the
    untraced (``False``) and traced (``True``) passes."""
    from perfbench.metrics import cpu_split, process_tree

    out = {
        on: {"wall_s": 0.0, "samples": [], "errors": [], "attempted": 0, "ok": 0,
             "cpu_s": 0.0, "jvm_cpu_s": 0.0, "python_cpu_s": 0.0, "gc_s": 0.0}
        for on in (False, True)
    }
    orders = None if workload == "lake_ingest" else wl.schedule(len(tracers))
    jvm.reset_heap_peak()
    for p, tracer in enumerate(tracers):
        acc = out[tracer.enabled]

        def record(kind, secs, ok, err, acc=acc):
            acc["attempted"] += 1
            if secs is not None:
                acc["samples"].append((kind, secs))
            if ok:
                acc["ok"] += 1
            if err:
                acc["errors"].append(err)

        prefix = f"{'t' if tracer.enabled else 'u'}{p}."
        cpu0, gc0 = cpu_split(process_tree(), jvm.pid), jvm.gc_s()
        t0 = time.perf_counter()
        if orders is None:
            wl.cycle(tracer, prefix, record)
        else:
            for name in orders[p]:
                t = time.perf_counter()
                try:
                    wl.run_op(name, tracer, prefix + name)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    record(name, None, False, f"{name}: {exc!r}"[:300])
                    continue
                record(name, time.perf_counter() - t, wl.op_ok(name), None)
        acc["wall_s"] += time.perf_counter() - t0
        cpu1 = cpu_split(process_tree(), jvm.pid)
        acc["gc_s"] += jvm.gc_s() - gc0
        for k, src in (("cpu_s", "total"), ("jvm_cpu_s", "jvm"), ("python_cpu_s", "python")):
            acc[k] += cpu1[src] - cpu0[src]
    out[True]["heap_peak_mb"] = jvm.heap_peak_mb()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import aws_etl_project2_fiap_spark  # noqa: F401 - the program under test
        import bench  # noqa: F401 - testdata fingerprint helper
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    cpus = max(1, min(os.cpu_count() or 1, 8))
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # HotSpot writes its perf-data file under /tmp whatever
        # java.io.tmpdir says; the run must write only in the checkout
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    import tempfile

    from perfbench.metrics import stop_spark

    tempfile.tempdir = None  # re-read TMPDIR
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.chdir(run_dir)
    try:
        return _run(args, work, run_dir, cpus)
    finally:
        # the JVM and its Python workers end, and are waited for, on
        # every path out of the run; a second SIGTERM may not cut that short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stragglers = stop_spark()
        if stragglers:
            print(f"perfbench: signalled leftover processes {stragglers}", file=sys.stderr)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str, cpus: int) -> int:
    from perfbench import datagen, metrics, trace, workloads

    data_dir = os.path.join(work, f"data-s{SCALE}")
    data_digest = datagen.ensure_data(data_dir, SCALE)
    stamp = metrics.run_stamp(ROOT, data_dir, args.seed, args.workload)
    stamp.update({"data_digest": data_digest, "scale": SCALE, "local_cpus": cpus})

    sampler = metrics.RssSampler()
    sentinel_before = _median_sentinel()
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: no heap resizing between runs, so
        # peak RSS and GC timing do not depend on when G1 chose to grow
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # ---- set-up ---------------------------------------------------------
    t0 = time.perf_counter()
    from aws_etl_project2_fiap_spark.session import build_session

    spark = build_session(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    jvm = _Jvm(spark)
    stamp["java"] = str(spark._jvm.java.lang.System.getProperty("java.runtime.version"))
    _emit({"stamp": stamp})
    reps = _passes(args.workload, args.seconds)
    if args.workload == "lake_ingest":
        wl = workloads.LakeWorkload(
            spark, data_dir, os.path.join(run_dir, "lake"), args.seed,
            cycles=1 + reps * (2 if args.trace else 1),
        )
    else:
        wl = workloads.QueryWorkload(
            spark, data_dir, workloads.ANALYTIC + workloads.LLM, args.seed
        )
    fixture_s = []
    for _ in range(FIXTURE_REPEATS):
        t = time.perf_counter()
        wl.fixtures()
        fixture_s.append(time.perf_counter() - t)
    setup_errors: list[str] = []
    t = time.perf_counter()
    wl.warm_pass(setup_errors)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(fixture_s) + warm_s

    # ---- measured phase(s) ------------------------------------------------
    # a traced run interleaves untraced and traced passes in ABBA order,
    # so the JIT's continued warm-up biases neither side of the overhead
    off = trace.Tracer(False)
    tracer = trace.Tracer(True, spark.sparkContext) if args.trace else None
    tracers = [off] * reps
    if args.trace:
        tracers = [tr for i in range(reps) for tr in ((off, tracer), (tracer, off))[i % 2]]
    by_mode = _phase(wl, args.workload, tracers, jvm)
    untraced, traced = by_mode[False], by_mode[True]

    # ---- end-of-run checks --------------------------------------------------
    final_errors = wl.final_checks()
    space_amp = wl.space_amp()
    sentinel_after = _median_sentinel()
    metrics.stop_spark()  # also flushes the event log
    peak_rss_mb = sampler.stop()

    attempted = untraced["attempted"] + traced["attempted"]
    ok = untraced["ok"] + traced["ok"]
    errors = setup_errors + final_errors + untraced["errors"] + traced["errors"]
    correct = not errors and ok == attempted
    summary = metrics.op_summary(untraced["samples"])
    per_kind = {
        k: statistics.median(v) for k, v in metrics.by_kind(untraced["samples"]).items()
    }
    stamp_end = {
        "loadavg_end": list(os.getloadavg()),
        "host_sentinel_s": [sentinel_before, sentinel_after],
    }
    _emit({"detail": {
        "reps_per_kind": summary["reps"],
        "per_kind_p50_s": per_kind,
        "setup": {"session_s": session_s, "fixtures_s": fixture_s, "warm_pass_s": warm_s},
        "errors": errors[:20],
        **stamp_end,
    }})

    if args.trace:
        log = trace.parse_event_log(trace.find_event_log(os.path.join(run_dir, "eventlog")))
        out = _layer_metrics(
            args.workload, wl, tracer, log, untraced, traced, session_s,
            per_kind, summary["op_p50_s"], (sentinel_before + sentinel_after) / 2,
        )
        prefixes, why = NOT_EXERCISED[args.workload]
        _emit({"absent": {m: why for m in out if m.startswith(prefixes)}})
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{args.workload}-{args.seed}-spans.json"), log)
    else:
        out = {
            "setup_s": (setup_s, "s"),
            "wall_s": (untraced["wall_s"], "s"),
            "op_p50_s": (summary["op_p50_s"], "s"),
            "op_tail_s": (summary["op_tail_s"], "s"),
            "cpu_s": (untraced["cpu_s"], "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "ok_ratio": (untraced["ok"] / max(1, untraced["attempted"]), "ratio"),
            "space_amp": (space_amp, "ratio"),
        }
    _emit({
        "correct": correct,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    })
    return 0


def _layer_metrics(workload, wl, tracer, log, untraced, traced, session_s,
                   per_kind, op_p50, sentinel) -> dict:
    from perfbench import trace, workloads

    lm = trace.layer_metrics(tracer.spans, log)
    span, selfs, task = lm["span_s"], lm["self_s"], lm["task"]
    mb = 2**20
    out = {
        "session.build_s": (session_s, "s"),
        "workload.build_s": (span.get("workload.build", 0.0), "s"),
        "workload.eager_jobs": (lm["eager_jobs"], "count"),
        "spark.driver_s": (lm["driver_s"], "s"),
        "spark.jobs": (lm["jobs"], "count"),
        "spark.stages": (lm["stages"], "count"),
        "spark.tasks": (lm["tasks"], "count"),
        "spark.aqe_replans": (lm["aqe_replans"], "count"),
        "spark.task_run_s": (task["run_s"], "s"),
        "spark.task_cpu_s": (task["cpu_s"], "s"),
        "spark.task_deserialize_s": (task["deser_s"], "s"),
        "spark.scheduler_delay_s": (task["sched_delay_s"], "s"),
        "spark.shuffle_read_mb": (task["shuffle_read_b"] / mb, "MB"),
        "spark.shuffle_write_mb": (task["shuffle_write_b"] / mb, "MB"),
        "spark.spill_mb": (task["spill_b"] / mb, "MB"),
        "spark.input_mb": (task["input_b"] / mb, "MB"),
        "jvm.cpu_s": (traced["jvm_cpu_s"], "s"),
        "jvm.gc_s": (traced["gc_s"], "s"),
        "jvm.heap_peak_mb": (traced["heap_peak_mb"], "MB"),
        "python.cpu_s": (traced["python_cpu_s"], "s"),
        "python.bytes_sent_mb": (task["py_sent_b"] / mb, "MB"),
        "python.bytes_received_mb": (task["py_recv_b"] / mb, "MB"),
    }
    lake = workload == "lake_ingest"
    c = wl.counters if lake else None
    in_bytes = c.input_bytes if lake else 0
    out.update({
        "versioned.merge_s": (span.get("versioned.merge", 0.0), "s"),
        "versioned.delete_s": (span.get("versioned.delete", 0.0), "s"),
        "versioned.read_s": (span.get("versioned.read", 0.0), "s"),
        "versioned.time_travel_s": (span.get("versioned.time_travel", 0.0), "s"),
        "versioned.files_added": (c.files_added if lake else 0, "count"),
        "versioned.files_removed": (c.files_removed if lake else 0, "count"),
        "versioned.bytes_written_mb": ((c.table_bytes if lake else 0) / mb, "MB"),
        "versioned.manifest_kb": ((c.manifest_bytes if lake else 0) / 1024, "KB"),
        "versioned.write_amp": ((c.table_bytes / in_bytes) if lake and in_bytes else 0.0, "ratio"),
        "matview.refresh_s": (span.get("matview.refresh", 0.0), "s"),
        "matview.bytes_written_mb": ((c.view_bytes if lake else 0) / mb, "MB"),
        "lakesql.resolve_s": (span.get("lakesql.resolve", 0.0), "s"),
        "lakesql.exec_s": (span.get("lakesql.exec", 0.0), "s"),
        "streaming.ingest_s": (span.get("streaming.ingest", 0.0), "s"),
        "streaming.start_s": (span.get("streaming.start", 0.0), "s"),
    })
    for k in ("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms"):
        out[f"streaming.{k}"] = (c.stream[k] if lake else 0.0, "ms")
    out["streaming.input_rows"] = (c.stream["input_rows"] if lake else 0, "count")
    for name in workloads.ANALYTIC + workloads.LLM:
        out[f"query.{name}.p50_s"] = (per_kind.get(name, 0.0), "s")
    out["host.sentinel_s"] = (sentinel, "s")
    # latency in units of the host's current single-thread speed: on
    # identical code this moved ~3% across runs while op_p50_s moved ~15%
    out["host.op_p50_per_sentinel"] = (op_p50 / sentinel, "ratio")
    # self time by layer: these sum to trace.ops_wall_s
    layer_of = {
        "op": "bench", "workload.build": "workload", "spark.action": "driver",
        "spark.job": "jobs",
    }
    by_layer = {k: 0.0 for k in SELF_LAYERS}
    for name, v in selfs.items():
        by_layer[layer_of.get(name, name.split(".")[0])] += v
    for k, v in by_layer.items():
        out[f"self.{k}_s"] = (v, "s")
    out.update({
        "trace.ops_wall_s": (lm["ops_wall_s"], "s"),
        "trace.self_sum_s": (sum(selfs.values()), "s"),
        "trace.wall_s": (traced["wall_s"], "s"),
        "trace.untraced_wall_s": (untraced["wall_s"], "s"),
        "trace.overhead_ratio": (traced["wall_s"] / untraced["wall_s"] - 1.0, "ratio"),
    })
    return out


# per-layer figures a workload cannot produce; they print as 0
NOT_EXERCISED = {
    "catalog_queries": (
        ("versioned.", "matview.", "lakesql.", "streaming."),
        "catalog_queries makes no lake calls",
    ),
    "lake_ingest": (
        ("query.", "workload."),
        "lake_ingest calls no workload query functions",
    ),
}
SELF_LAYERS = ("bench", "workload", "driver", "jobs", "versioned", "matview", "lakesql", "streaming")


if __name__ == "__main__":
    sys.exit(main())
