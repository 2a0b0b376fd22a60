"""Aggregation of op latencies, process-tree accounting and the run stamp.

Latencies are never pooled across unlike op kinds: each kind (query name
or lake verb) is reduced on its own first, then the per-kind figures are
combined with a geometric mean, TPC-H-power style, so each kind weighs
the same whatever its absolute duration.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import signal
import statistics
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def geomean(values) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError(f"geomean needs positive values, got {vals}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def by_kind(samples: list[tuple[str, float]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for kind, secs in samples:
        out.setdefault(kind, []).append(secs)
    return out


def op_summary(samples: list[tuple[str, float]]) -> dict:
    """``op_p50_s``: geomean over kinds of each kind's median latency.
    ``op_tail_s``: geomean over kinds of each kind's slowest repetition.
    ``reps``: the repetitions behind each kind's figures."""
    kinds = by_kind(samples)
    return {
        "op_p50_s": geomean(statistics.median(v) for v in kinds.values()),
        "op_tail_s": geomean(max(v) for v in kinds.values()),
        "reps": {k: len(v) for k, v in sorted(kinds.items())},
    }


# ---------------------------------------------------------------------
# /proc accounting of the benchmark's process tree (this process, the
# JVM it launched, and the JVM's Python workers)
# ---------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, cpu


def process_tree() -> dict[int, tuple[int, str, float]]:
    """pid → (ppid, comm, cpu_s) for this process and all its descendants."""
    root = os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, s in procs.items() if s[0] == pid)
    return keep


def cpu_split(tree: dict[int, tuple[int, str, float]], jvm_pid: int | None) -> dict:
    """CPU seconds of the whole tree, of the JVM alone, and of the Python
    worker processes under the JVM."""
    total = sum(s[2] for s in tree.values())
    jvm = tree[jvm_pid][2] if jvm_pid in tree else 0.0
    workers = [
        pid for pid, s in tree.items()
        if jvm_pid is not None and pid != jvm_pid and _descends(tree, pid, jvm_pid)
    ]
    return {
        "total": total,
        "jvm": jvm,
        "python": sum(tree[p][2] for p in workers),
    }


def _descends(tree, pid: int, anc: int) -> bool:
    while pid in tree:
        pid = tree[pid][0]
        if pid == anc:
            return True
    return False


def _start_tick(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None once it
    has ended (a zombie counts as ended: only reaping is left)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state(0) ... starttime(19)
    return None if f[0] in ("Z", "X") else int(f[19])


def descendants() -> dict[int, int]:
    """pid → start tick of every live descendant of this process. The
    start tick tells a process apart from a later one reusing its pid."""
    me = os.getpid()
    out = {}
    for pid in process_tree():
        tick = _start_tick(pid)
        if pid != me and tick is not None:
            out[pid] = tick
    return out


def _alive(procs: dict[int, int]) -> list[int]:
    return [pid for pid, tick in procs.items() if _start_tick(pid) == tick]


def end_processes(procs: dict[int, int], grace_s: float = 15.0) -> list[int]:
    """Wait up to ``grace_s`` for every process in ``procs`` (from
    :func:`descendants`) to exit, then SIGTERM what is left, then
    SIGKILL, and wait until each has ended. Works for processes already
    re-parented away from this one (a JVM's Python workers once the JVM
    is gone). Returns the pids that had to be signalled."""
    signalled: list[int] = []

    def wait(limit: float) -> list[int]:
        deadline = time.monotonic() + limit
        left = _alive(procs)
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = _alive(procs)
        return left

    left = wait(grace_s)
    for sig, limit in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        signalled.extend(p for p in left if p not in signalled)
        left = wait(limit)
    return signalled


def stop_spark() -> list[int]:
    """Stop the active SparkContext, then end the JVM that PySpark
    launched and every process under it, and wait until all have ended.
    PySpark's JVM exits only when its stdin closes, which otherwise
    happens when this process exits, so it would outlive the run by its
    shutdown hooks. Safe to call more than once, and with no Spark."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return []
    procs = descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is ended below anyway
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None
        # no gateway.close(): with a foreachBatch callback server up it
        # can block for good; the JVM's exit closes the sockets instead
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                try:
                    proc.stdin.close()  # the JVM's signal to exit
                except OSError:
                    pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return end_processes(procs)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of the process tree on a daemon thread and
    keeps the peak. Stop it with :meth:`stop`, which joins the thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._pids: list[int] = [os.getpid()]
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        n = 0
        while not self._done.is_set():
            if n % 25 == 0:  # re-walk /proc every 5 s for new workers
                self._pids = list(process_tree())
            self.sample()
            n += 1
            self._done.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        self._pids = list(process_tree())
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------
# Host sentinel and run stamp
# ---------------------------------------------------------------------

def host_sentinel() -> float:
    """Seconds for a fixed single-thread CPU loop (SHA-256 over 64 MiB).
    Its work never changes, so it moves only with how fast the host runs
    right now; a slow capture identifies itself by a slow sentinel."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


def run_stamp(root: str, data_dir: str, seed: int, workload: str) -> dict:
    """What a reader needs to judge a capture: host size and load, the
    exact inputs, and the software versions (the Java version is added
    once the JVM is up)."""
    import pyspark

    from bench import _sf1_source_fingerprint

    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
        "testdata_fingerprint": _sf1_source_fingerprint(data_dir),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(root),
    }
