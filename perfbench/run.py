"""Extraction-job benchmark: one page-shape workload through ``run_job``.

Usage (from the repository root):

    python3 perfbench/run.py --workload heavy_pages --seed 1 --seconds 10 --trace 0

One run builds (or reuses) the workload's pages parquet for the seed, starts
a SparkSession on ``local[<cores>]`` several times (``setup_s`` is the median
session start plus Python-worker warm-up; only the first start launches the
JVM, so the median leaves the JVM launch out), then runs extraction jobs one at a
time, each into fresh output and lineage paths, until ``--seconds`` of job
wall time have been measured.  Every job's output is checked url by url
against the closed forms in ``workloads.expected``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (Spark UI REST stage/task/job metrics, /proc process
metrics, and an in-process span trace of a fixed page sample) and writes the
spans file.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_JOBS = 3
TRACE_SAMPLE = 1000
CHECK_SAMPLE = 32

sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402

from perfbench import collect, tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, build_input, expected, html_of, url_of  # noqa: E402
from readability_spark import pipeline  # noqa: E402
from readability_spark.spark import job as jobmod  # noqa: E402
from readability_spark.spark.session import ENGINE_CONF, get_spark  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="job wall time to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_units(trace):
    """Metric name -> unit, from the BENCHMARK.json next to the benchmark."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def contain(work):
    """Point every temp, spill and warehouse directory the session and its
    workers use into ``work``, and make this checkout importable for the
    Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{ENGINE_CONF['spark.driver.extraJavaOptions']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
    }


def setup(conf, cores, input_path, wl):
    """Start a session, then run a one-commit-group job over a few pages so
    every Python worker has paid its imports and the scan, shuffle and write
    path has run once; returns (spark, start_s, warmup_s)."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="readability-perfbench", master=f"local[{cores}]", conf=conf)
    t1 = time.perf_counter()
    job_dir = os.path.join(WORK, "jobs", f"warmup-{uuid.uuid4().hex[:8]}")
    jobmod.run_job(
        spark,
        spark.read.parquet(input_path).limit(cores * 8),
        output_path=os.path.join(job_dir, "out"),
        lineage_path=os.path.join(job_dir, "lineage"),
        run_id="warmup",
        num_partitions=cores,
        salt_n=1,
        commit_groups=1,
        options=wl.options,
        article_columns=wl.article_columns,
    )
    warmup_s = time.perf_counter() - t1
    shutil.rmtree(job_dir, ignore_errors=True)
    return spark, t1 - t0, warmup_s


def stop_spark(spark):
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def check_output(out_path, expect):
    """Compare every url's status, title and text_content with ``expect``.
    Returns (rows, failed, ok_rows, mismatched, extract_ms_sum): a row fails
    when its status is wrong, its url is unknown or repeated, or its url is
    missing from the output."""
    table = pq.read_table(
        out_path, columns=["url", "status", "title", "text_content", "extract_ms"]
    )
    cols = table.to_pydict()
    seen = set()
    failed = ok_rows = mismatched = 0
    for url, status, title, text in zip(
        cols["url"], cols["status"], cols["title"], cols["text_content"]
    ):
        want = expect.get(url)
        if want is None or url in seen or status != want[0]:
            failed += 1
        elif status == "ok":
            ok_rows += 1
            mismatched += (title, text) != want[1:]
        seen.add(url)
    failed += len(expect.keys() - seen)
    return table.num_rows, failed, ok_rows, mismatched, sum(filter(None, cols["extract_ms"]))


def cross_check(wl, docs):
    """The closed forms against in-process ``pipeline.extract_row`` on a
    fixed sample; returns the number of disagreeing documents."""
    bad = 0
    for doc in docs[:CHECK_SAMPLE]:
        article, status, _ = pipeline.extract_row(
            html_of(doc), options=wl.options, want_content=wl.want_content
        )
        got = (status, *((article.title, article.text_content) if article else (None, None)))
        bad += got != expected(wl, doc)
    return bad


def checked_job(spark, wl, input_path, sampler, expect, group, trace=False):
    """One extraction job into fresh paths, then its output check; returns
    the job's measurements.  With ``trace`` it also reads the job's Spark
    metrics and output files, keeps its wall interval and Spark spans, and
    times the resume check (``completed_partitions``) on the lineage the
    job committed, which must list every partition."""
    job_dir = os.path.join(WORK, "jobs", group)
    out_path = os.path.join(job_dir, "out")
    lineage_path = os.path.join(job_dir, "lineage")
    spark.sparkContext.setJobGroup(group, f"perfbench {wl.name}")
    sampler.start_window()
    t0 = time.time()
    jobmod.run_job(
        spark,
        spark.read.parquet(input_path),
        output_path=out_path,
        lineage_path=lineage_path,
        run_id=group,
        num_partitions=wl.num_partitions,
        salt_n=wl.salt_n,
        commit_groups=wl.commit_groups,
        options=wl.options,
        article_columns=wl.article_columns,
    )
    t1 = time.time()
    proc = sampler.end_window()
    rows, failed, ok_rows, mismatched, extract_ms = check_output(out_path, expect)
    m = {
        "wall_s": t1 - t0,
        "rows": rows,
        "failed": failed,
        "ok_rows": ok_rows,
        "mismatched": mismatched,
        "proc": proc,
        "udf.row_s": extract_ms / 1000.0,
        "lineage_missing": 0,
    }
    if trace:
        spark_m, m["spark_spans"] = collect.spark_job_metrics(spark.sparkContext, group, t0, t1)
        m.update(spark_m, t0=t0, t1=t1)
        m["sources.output_files"], out_bytes = collect.output_files(out_path)
        m["sources.output_mb"] = out_bytes / collect.MB
        # outside the job group, so its Spark job is not counted as the job's
        spark.sparkContext.setJobGroup(f"{group}-lineage", f"perfbench {wl.name} lineage")
        c0 = time.perf_counter()
        done = jobmod.completed_partitions(spark, lineage_path, group)
        m["job.lineage_check_s"] = time.perf_counter() - c0
        m["lineage_missing"] = len(set(range(wl.num_partitions)) - done)
    shutil.rmtree(job_dir, ignore_errors=True)
    return m


def main(argv=None):
    t_begin = time.perf_counter()
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    units = metric_units(args.trace)
    cores = len(os.sched_getaffinity(0))
    conf = contain(WORK)

    input_path, docs, input_info = build_input(wl, args.seed, os.path.join(WORK, "inputs"))
    print(
        f"input: {wl.name} seed={args.seed} rows={input_info['rows']} "
        f"html_bytes={input_info['html_bytes']} parquet_bytes={input_info['parquet_bytes']}"
    )
    expect = {url_of(d): expected(wl, d) for d in docs}
    cross_bad = cross_check(wl, docs)

    per_job = []  # one dict of measurements per measured job
    spans = {"jobs": [], "spark": []}
    setups = []
    spark = None
    try:
        with collect.ProcSampler() as sampler:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, start_s, warmup_s = setup(conf, cores, input_path, wl)
                setups.append((start_s, warmup_s))
            measured = 0.0
            # stop before a job that would overrun the measuring time
            while len(per_job) < MIN_JOBS or measured + statistics.median(
                m["wall_s"] for m in per_job
            ) <= args.seconds:
                group = f"job{len(per_job)}-{uuid.uuid4().hex[:8]}"
                m = checked_job(spark, wl, input_path, sampler, expect, group, args.trace)
                measured += m["wall_s"]
                if args.trace:
                    spans["jobs"].append({"name": group, "start": m.pop("t0"), "end": m.pop("t1")})
                    spans["spark"].extend(dict(s, job=group) for s in m.pop("spark_spans"))
                per_job.append(m)
    finally:
        started = collect.descendants()
        if spark is not None:
            stop_spark(spark)
        collect.wait_gone(started)

    attempted = sum(m["rows"] for m in per_job)
    failed = sum(m["failed"] + m["mismatched"] for m in per_job) + cross_bad
    failed_frac = sum(m["failed"] for m in per_job) / max(attempted, 1)
    mismatch_frac = sum(m["mismatched"] for m in per_job) / max(
        sum(m["ok_rows"] for m in per_job), 1
    )
    lineage_missing = sum(m["lineage_missing"] for m in per_job)
    print(
        "phases: setups_s=" + ",".join(f"{a + b:.2f}" for a, b in setups)
        + " job_walls_s=" + ",".join(f"{m['wall_s']:.2f}" for m in per_job)
        + " job_peak_rss_mb=" + ",".join(f"{m['proc']['rss_mb']['all']:.0f}" for m in per_job)
        + f" elapsed_s={time.perf_counter() - t_begin:.1f}"
    )
    print(
        f"checked: jobs={len(per_job)} failed_frac={failed_frac} ratio "
        f"mismatch_frac={mismatch_frac} ratio closed_form_disagreements={cross_bad}"
        f" lineage_missing_partitions={lineage_missing}"
    )

    if args.trace:
        values = trace_metrics(wl, docs, per_job, setups, input_info, cores, spans, args)
    else:
        values = {
            "docs_per_s": statistics.median(m["rows"] / m["wall_s"] for m in per_job),
            "setup_s": statistics.median(s + w for s, w in setups),
            "peak_py_rss_mb": statistics.median(m["proc"]["rss_mb"]["python"] for m in per_job),
        }
    if set(values) != set(units):
        raise SystemExit(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}"
        )
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and lineage_missing == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
            }
        )
    )


def trace_metrics(wl, docs, per_job, setups, input_info, cores, spans, args):
    """The per-layer metrics: medians over jobs of the Spark and process
    metrics, plus the in-process span trace of a fixed page sample."""
    def med(key):
        return statistics.median(m[key] for m in per_job)

    def proc_med(fn):
        return statistics.median(fn(m["proc"], m["wall_s"]) for m in per_job)

    values = {
        key: med(key)
        for key in (
            "udf.row_s",
            "udf.task_s",
            "job.spark_jobs",
            "job.tasks",
            "job.task_ms.p50",
            "job.task_ms.max",
            "job.task_skew",
            "job.idle_s",
            "job.lineage_check_s",
            "job.shuffle_write_mb",
            "job.shuffle_read_mb",
            "job.gc_frac",
            "sources.scan_rows",
            "sources.output_mb",
            "sources.output_files",
        )
    }
    values["udf.outside_row_frac"] = statistics.median(
        1.0 - m["udf.row_s"] / m["udf.task_s"] for m in per_job
    )
    values["sources.scan_amplification"] = values["sources.scan_rows"] / input_info["rows"]
    for kind in ("pyworker", "jvm", "driver"):
        values[f"proc.{kind}_cpu_s"] = proc_med(lambda p, w, k=kind: p["cpu_s"][k])
    values["proc.cpu_busy_frac"] = proc_med(lambda p, w: sum(p["cpu_s"].values()) / (w * cores))
    for kind in ("pyworker", "jvm", "all"):
        values[f"proc.{kind}_rss_mb"] = proc_med(lambda p, w, k=kind: p["rss_mb"][k])
    values["session.start_s"] = statistics.median(s for s, _ in setups)
    # only the first set-up launches the JVM; later ones reuse it
    values["session.jvm_start_s"] = setups[0][0]
    values["session.warmup_s"] = statistics.median(w for _, w in setups)

    sample = [html_of(d) for d in docs[:TRACE_SAMPLE]]
    layer, layer_spans = tracer.trace_sample(
        sample, {"options": wl.options, "want_content": wl.want_content}
    )
    values.update(layer)

    spans_dir = os.path.join(WORK, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{wl.name}-seed{args.seed}.json")
    with open(spans_path, "w") as fh:
        json.dump(
            {
                "workload": wl.name,
                "seed": args.seed,
                "layer_span_fields": ["id", "parent", "name", "start", "end", "doc"],
                "layer_spans": layer_spans,
                **spans,
            },
            fh,
        )
    print(f"spans: {spans_path} ({len(layer_spans)} layer spans, {len(spans['spark'])} spark spans)")
    return values


if __name__ == "__main__":
    main()
