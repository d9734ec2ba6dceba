"""Throughput scaling efficiency from N to 4N CPUs, measured by the benchmark:
``python3 tools/scaling.py --workload thin_pages --seed 1 [--reps 3]``.

N is a quarter of this process's CPU affinity set.  Each rep runs the
unchanged ``perfbench/run.py`` pinned to the first N CPUs, then to the first
4N (perfbench sizes ``local[<cores>]`` from its affinity set, which the JVM
and Python workers inherit); its efficiency is ``docs_per_s(4N) / (4 *
docs_per_s(N))``.  Prints one JSON line with every rep and the median (one
CPU warms up slowly, so the best rep would overstate); writes no files.
"""

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 900


def run_pinned(cmd, cpus, timeout=TIMEOUT_S):
    """stdout of ``cmd`` run on ``cpus`` only, in its own session; whatever
    is left of its process group afterwards (a timeout included) is killed."""
    child = subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    try:
        out, _ = child.communicate(timeout=timeout)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    if child.returncode != 0:
        raise RuntimeError(f"{cmd} on CPUs {cpus} exited {child.returncode}")
    return out


def docs_per_s(stdout):
    """A perfbench run's docs_per_s; raises unless its JSON last line is correct."""
    last = (stdout.strip().splitlines() or [""])[-1]
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        raise RuntimeError(f"last line is not a perfbench result: {last!r}") from None
    if not isinstance(result, dict) or result.get("correct") is not True:
        raise RuntimeError(f"perfbench run is not correct: {last}")
    return result["metrics"]["docs_per_s"]["value"]


def summary(rates):
    """[(docs_per_s at N, at 4N), ...] -> every rep and the median efficiency."""
    reps = [{"docs_per_s_n": a, "docs_per_s_4n": b, "efficiency": b / (4 * a)} for a, b in rates]
    return {"reps": reps, "median_efficiency": statistics.median(r["efficiency"] for r in reps)}


def main(argv=None):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args(argv)
    cpus = sorted(os.sched_getaffinity(0))
    n = len(cpus) // 4
    if n == 0:
        raise SystemExit(f"need at least 4 CPUs in the affinity set, have {len(cpus)}")
    cmd = bench["command"] + ["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    rates = [tuple(docs_per_s(run_pinned(cmd, cpus[:k])) for k in (n, 4 * n)) for _ in range(args.reps)]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": [n, 4 * n], **summary(rates)}))


if __name__ == "__main__":
    main()
