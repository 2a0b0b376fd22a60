"""End-to-end smoke runs of the benchmark command at its own scale
(0.01): every metric named in BENCHMARK.json is printed with its unit,
outputs check out, and a copy without the engine fails loudly."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _left_in(cwd):
    """Processes whose working directory is a run directory under ``cwd``
    (the JVM and its Python workers run there)."""
    work = os.path.join(cwd, ".perfbench_work") + os.sep
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.readlink(f"/proc/{pid}/cwd").startswith(work):
                left.append(int(pid))
        except OSError:
            pass
    return left


def _run(cwd, workload, trace):
    """Run the benchmark command; its output goes to files, not pipes, so
    that the call returns when the benchmark process exits, not when the
    last process holding its output does."""
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err, text=True, timeout=600)
        out.seek(0)
        err.seek(0)
        proc.stdout, proc.stderr = out.read(), err.read()
    return proc


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert _left_in(ROOT) == [], "the run left processes behind"
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert result["metrics"]["ok_ratio"]["value"] == 1.0
    stamp = json.loads(lines[0])["stamp"]
    for key in ("nproc", "loadavg_start", "testdata_fingerprint", "pyspark",
                "java", "git_commit", "seed"):
        assert key in stamp


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
