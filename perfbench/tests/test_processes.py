"""Ending the processes a run started: lingering ones are signalled,
and every one has ended when ``end_processes`` returns."""

import signal
import subprocess
import sys

from perfbench import metrics

_STUBBORN = "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"


def test_descendants_lists_children_with_start_ticks():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        procs = metrics.descendants()
        assert child.pid in procs and procs[child.pid] > 0
    finally:
        child.kill()
        child.wait()


def test_exited_process_is_not_signalled():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    procs = {child.pid: metrics.descendants().get(child.pid, 0)}
    child.wait()
    assert metrics.end_processes(procs, grace_s=5.0) == []


def test_lingering_process_is_ended_even_if_it_ignores_sigterm():
    child = subprocess.Popen([sys.executable, "-c", _STUBBORN])
    try:
        procs = metrics.descendants()
        assert child.pid in procs
        assert metrics.end_processes(procs, grace_s=0.2) == [child.pid]
        # killed: only the zombie is left until it is reaped
        assert child.wait(timeout=5) == -signal.SIGKILL
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_stop_spark_without_spark_is_a_no_op():
    assert metrics.stop_spark() == []
