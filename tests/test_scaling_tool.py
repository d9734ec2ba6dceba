"""tools/scaling.py without a Spark session: the efficiency and median it
derives from perfbench result lines, the result lines it refuses, and the
launcher that pins each child to a CPU set and leaves no process behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import scaling  # noqa: E402


def result_line(docs_per_s, correct=True):
    """The stdout of a perfbench run: progress lines, then its JSON result."""
    result = {
        "correct": correct,
        "attempted": 3200,
        "failed": 0 if correct else 1,
        "metrics": {
            "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
            "setup_s": {"value": 3.0, "unit": "s"},
            "peak_py_rss_mb": {"value": 700.0, "unit": "MB"},
        },
    }
    return f"input: heavy_pages seed=1 rows=3200\ndocs_per_s = {docs_per_s} docs/s\n{json.dumps(result)}\n"


def test_efficiency_and_median_from_result_lines():
    rates = [
        (scaling.docs_per_s(result_line(n)), scaling.docs_per_s(result_line(four_n)))
        for n, four_n in ((300.0, 1080.0), (400.0, 1200.0), (250.0, 1000.0))
    ]
    out = scaling.summary(rates)
    assert [r["efficiency"] for r in out["reps"]] == pytest.approx([0.9, 0.75, 1.0])
    assert out["reps"][0]["docs_per_s_n"] == 300.0
    assert out["reps"][0]["docs_per_s_4n"] == 1080.0
    assert out["median_efficiency"] == pytest.approx(0.9)


@pytest.mark.parametrize(
    "stdout",
    [result_line(500.0, correct=False), result_line(500.0) + "Traceback: boom\n", ""],
    ids=["incorrect", "not-json", "empty"],
)
def test_refuses_a_run_that_is_not_a_correct_result(stdout):
    with pytest.raises(RuntimeError):
        scaling.docs_per_s(stdout)


def test_children_run_on_the_given_cpus():
    cpus = sorted(os.sched_getaffinity(0))
    probe = [sys.executable, "-c", "import os; print(len(os.sched_getaffinity(0)))"]
    for k in (1, len(cpus)):
        assert scaling.run_pinned(probe, cpus[:k]).strip() == str(k)


def wait_gone(pid, deadline_s=10.0):
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.05)
    return False


@pytest.mark.parametrize("exits", [True, False], ids=["after-exit", "on-timeout"])
def test_leaves_no_process_of_its_child_running(tmp_path, exits):
    """A grandchild left behind by a child that exits, or by one that times
    out, is killed with the child's process group."""
    pid_file = tmp_path / "grandchild.pid"
    # the grandchild closes its stdout, or reading the child's output
    # would wait for it
    script = f"sleep 60 > /dev/null & echo $! > {pid_file}" + ("" if exits else "; wait")
    cpus = sorted(os.sched_getaffinity(0))
    if exits:
        scaling.run_pinned(["sh", "-c", script], cpus, timeout=30)
    else:
        with pytest.raises(subprocess.TimeoutExpired):
            scaling.run_pinned(["sh", "-c", script], cpus, timeout=1)
    assert wait_gone(int(pid_file.read_text()))
