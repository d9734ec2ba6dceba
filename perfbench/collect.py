"""Spark-side and process-side collectors for the extraction-job benchmark.

``ProcSampler`` samples ``/proc`` for the benchmark's whole process tree
(this driver, the Spark JVM it launches, the Python workers the JVM forks)
and keeps peak summed RSS plus CPU and peak RSS per process class.

``spark_job_metrics`` reads the stage, task and job metrics of one job group
from the session's own Spark UI REST API (``/api/v1/applications/...``).
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MB = 1e6


def _read_stat(pid):
    """(ppid, cpu_s, rss_bytes) of ``pid``, or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    return (
        int(fields[1]),
        (int(fields[11]) + int(fields[12])) / _TICK,
        int(fields[21]) * _PAGE,
    )


def _classify(pid, root):
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "pyworker"
    if os.path.basename(cmd.split(b"\0", 1)[0]) == b"java":
        return "jvm"
    return "other"


def _tree(root):
    """pid -> (ppid, cpu_s, rss_bytes) of ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def descendants():
    """The pids of every process this process has started, directly or not."""
    return set(_tree(os.getpid())) - {os.getpid()}


def wait_gone(pids, timeout=60.0):
    """Wait until every process in ``pids`` has exited, killing any still
    running after ``timeout`` seconds.  The Python workers are the JVM's
    children, not ours, so this polls /proc instead of calling wait()."""
    deadline = time.time() + timeout
    while pids:
        pids = {pid for pid in pids if _running(pid)}
        if pids and time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _running(pid):
    """Whether ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 : raw.rindex(b")") + 3] != b"Z"


class ProcSampler:
    """Background sampler of the process tree rooted at this process.

    ``start_window()``/``end_window()`` bracket one job; ``end_window``
    returns the window's peak RSS per process class, of the whole tree
    (``all``) and of the processes running Python (``python``: this driver
    and the Python workers), and CPU seconds per class.  CPU of a process
    that exits between two samples is counted up to its last sample."""

    CLASSES = ("driver", "jvm", "pyworker", "other")

    def __init__(self, interval=0.05):
        self.interval = interval
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = None
        self._kind = {}
        self._window = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self):
        if self._window is None:
            return
        tree = _tree(self.root)
        with self._lock:
            w = self._window
            if w is None:
                return
            total = 0
            rss = dict.fromkeys(self.CLASSES, 0)
            for pid, (_, cpu, size) in tree.items():
                kind = self._kind.get(pid)
                if kind is None or kind == "other":  # a launcher may exec into java
                    kind = self._kind[pid] = _classify(pid, self.root)
                total += size
                rss[kind] += size
                w["cpu_first"].setdefault(pid, (kind, 0.0 if w["started"] else cpu))
                w["cpu_last"][pid] = cpu
            w["started"] = True
            rss["all"] = total
            rss["python"] = rss["driver"] + rss["pyworker"]
            for kind, size in rss.items():
                w["peak"][kind] = max(w["peak"][kind], size)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start_window(self):
        with self._lock:
            self._window = {
                "started": False,
                "peak": dict.fromkeys(self.CLASSES + ("all", "python"), 0),
                "cpu_first": {},
                "cpu_last": {},
            }
        self.sample()

    def end_window(self):
        self.sample()
        with self._lock:
            w, self._window = self._window, None
        cpu = dict.fromkeys(self.CLASSES, 0.0)
        for pid, (kind, first) in w["cpu_first"].items():
            cpu[kind] += w["cpu_last"][pid] - first
        return {"rss_mb": {k: v / MB for k, v in w["peak"].items()}, "cpu_s": cpu}


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _ts(value):
    """Spark REST timestamps ('2026-01-01T00:00:00.000GMT') -> epoch seconds."""
    return (
        datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_s(intervals, lo, hi):
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def spark_job_metrics(sc, group, t0, t1, timeout=30.0):
    """Stage/task/job metrics of the Spark jobs tagged with job group
    ``group`` that ran in the wall interval [t0, t1].

    Returns ``(metrics, spans)``: the job-level sums and task statistics,
    and one span per Spark job and stage."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + timeout
    while True:  # the UI's listener bus lags the job by a few milliseconds
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") == group]
        if jobs and all(j["status"] != "RUNNING" and "completionTime" in j for j in jobs):
            break
        if time.time() > deadline:
            raise RuntimeError(f"Spark UI has no finished jobs for group {group!r}")
        time.sleep(0.05)
    spans = []
    for j in jobs:
        spans.append(
            {
                "name": f"spark.job.{j['jobId']}",
                "start": _ts(j["submissionTime"]),
                "end": _ts(j["completionTime"]),
                "status": j["status"],
            }
        )
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    sums = dict.fromkeys(
        (
            "executorRunTime",
            "jvmGcTime",
            "inputRecords",
            "shuffleReadBytes",
            "shuffleWriteBytes",
        ),
        0,
    )
    udf_run_ms = 0
    task_ms = []
    for sid in stage_ids:
        for stage in _get(f"{base}/stages/{sid}"):
            if stage["status"] != "COMPLETE":
                continue  # skipped stages (reused shuffle output) ran no tasks
            for key in sums:
                sums[key] += stage.get(key, 0)
            # the mapInPandas extraction runs in the stage that writes the
            # output (shuffle read -> UDF -> parquet write)
            if stage.get("outputBytes", 0) > 0:
                udf_run_ms += stage["executorRunTime"]
            tasks = _get(
                f"{base}/stages/{sid}/{stage['attemptId']}/taskList?length=1000000"
            )
            task_ms.extend(t["taskMetrics"]["executorRunTime"] for t in tasks if "taskMetrics" in t)
            spans.append(
                {
                    "name": f"spark.stage.{sid}",
                    "parent": next(f"spark.job.{j['jobId']}" for j in jobs if sid in j["stageIds"]),
                    "start": _ts(stage["submissionTime"]),
                    "end": _ts(stage["completionTime"]),
                    "tasks": stage["numCompleteTasks"],
                }
            )
    p50 = statistics.median(task_ms) if task_ms else 0.0
    job_intervals = [(s["start"], s["end"]) for s in spans if s["name"].startswith("spark.job.")]
    metrics = {
        "job.spark_jobs": len(jobs),
        "job.tasks": len(task_ms),
        "job.task_ms.p50": p50,
        "job.task_ms.max": max(task_ms, default=0.0),
        "job.task_skew": (max(task_ms) / p50) if p50 > 0 else 0.0,
        "job.idle_s": (t1 - t0) - _union_s(job_intervals, t0, t1),
        "job.shuffle_write_mb": sums["shuffleWriteBytes"] / MB,
        "job.shuffle_read_mb": sums["shuffleReadBytes"] / MB,
        "job.gc_frac": (sums["jvmGcTime"] / sums["executorRunTime"]) if sums["executorRunTime"] else 0.0,
        "udf.task_s": udf_run_ms / 1000.0,
        # rows, not bytes: Spark's parquet inputBytes counter reads a few KB
        # for a multi-MB scan on this reader, so bytes would mislead
        "sources.scan_rows": sums["inputRecords"],
    }
    return metrics, spans


def output_files(path):
    """(files, bytes) of the parquet data files under an output directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
