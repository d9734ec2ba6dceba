"""spark-submit entry point for the extraction job (north_rule submission
surface: ``spark-submit --py-files readability_spark.zip scripts/extract_job.py``).

Mirrors the reference CLI (/root/reference/src/main.rs:12-34,
/root/reference/src/arguments.rs:11-22) at dataset scale: instead of one
HTML file -> stdout, a pages table -> articles table, with per-partition
lineage, resume, and a JSON report line on stdout.

Usage:
  spark-submit --master local[8] --py-files readability_spark.zip \
      scripts/extract_job.py \
      --input /tmp/pages_parquet --output /tmp/articles \
      --lineage /tmp/lineage --run-id r1 \
      --num-partitions 64 --salt-n 4 --commit-groups 2 \
      --report-json /tmp/report.json

The master comes from spark-submit (or the SparkSession default); the job
never hardcodes a parallelism level, so one submission runs unchanged on
any core count.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def positive_int(value):
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def parse_args(argv):
    p = argparse.ArgumentParser(description="readability_spark extraction job")
    p.add_argument("--input", required=True, help="pages parquet path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="articles output parquet path")
    p.add_argument("--lineage", required=True, help="lineage parquet path")
    p.add_argument("--run-id", required=True)
    p.add_argument("--num-partitions", type=positive_int, default=64)
    p.add_argument("--salt-n", type=positive_int, default=4)
    p.add_argument("--commit-groups", type=positive_int, default=2)
    p.add_argument("--report-json", default=None, help="also write the report to this file")
    p.add_argument(
        "--content-extraction",
        action="store_true",
        help="enable the Arc90 candidate-scoring pass (Options(content_extraction=True))",
    )
    p.add_argument(
        "--min-text-length", type=int, default=None,
        help="scoring-pass minimum candidate text length (default: reference's 500)",
    )
    p.add_argument(
        "--article-columns",
        default=None,
        help="comma-separated Article columns to emit (projection pushdown "
        "into the extraction UDF; e.g. 'title,text_content,length,lang' for "
        "a text-corpus job that never consumes the content HTML — skips "
        "serializing/shipping/writing ~25 KB of HTML per row)",
    )
    p.add_argument(
        "--warmup",
        action="store_true",
        help="run a small untimed extraction first so every Python worker has "
        "paid its import cost before the timed job (long-running production "
        "executors amortize this; a cold one-shot run would otherwise charge "
        "it to the first measured partitions)",
    )
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)

    from readability_spark.spark.job import run_job
    from readability_spark.spark.session import apply_engine_conf
    from readability_spark.spark.sources import read_ref

    # getOrCreate picks up spark-submit's --master / --conf, which win over
    # the engine's settings
    spark = apply_engine_conf(
        SparkSession.builder.appName(f"readability-extract-{args.run_id}").getOrCreate()
    )

    cores = spark.sparkContext.defaultParallelism

    options = None
    if args.content_extraction or args.min_text_length is not None:
        from readability_spark.options import Options

        kwargs = {"content_extraction": args.content_extraction}
        if args.min_text_length is not None:
            kwargs["min_text_length"] = args.min_text_length
        options = Options(**kwargs)

    if args.warmup:
        from pyspark.sql import functions as F
        from readability_spark.spark.job import extract_articles

        # the job's own options, so the workers also import the passes
        # (scoring, prep, urifix) that pipeline.extract loads lazily
        warm = read_ref(spark, args.input).limit(cores * 64).repartition(cores * 2)
        extract_articles(warm, options=options).agg(F.count(F.lit(1))).collect()

    t0 = time.time()
    pages = read_ref(spark, args.input)
    report = run_job(
        spark,
        pages,
        output_path=args.output,
        lineage_path=args.lineage,
        run_id=args.run_id,
        num_partitions=args.num_partitions,
        salt_n=args.salt_n,
        commit_groups=args.commit_groups,
        options=options,
        article_columns=(
            tuple(c.strip() for c in args.article_columns.split(",") if c.strip())
            if args.article_columns
            else None
        ),
    )
    wall = time.time() - t0

    payload = {
        "run_id": report.run_id,
        "cores": cores,
        "partitions_total": report.partitions_total,
        "partitions_done_previously": report.partitions_done_previously,
        "partitions_processed": report.partitions_processed,
        "docs": report.docs,
        "ok": report.ok,
        "failed": report.failed,
        "wall_secs": round(wall, 3),
        "docs_per_sec": round(report.docs / wall, 1) if wall > 0 else 0.0,
    }
    line = json.dumps(payload)
    print(line)
    if args.report_json:
        with open(args.report_json, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
