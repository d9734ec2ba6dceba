"""Structured Streaming ingestion for the extraction engine.

The reference is strictly batch (single document, SURVEY.md section 2.4
"Streaming: absent"), so this is engine capability beyond parity: a crawl
landing zone consumed as a file stream, the SAME vectorized
``extract_articles`` transform applied to the unbounded DataFrame
(mapInArrow composes with streaming), and checkpointed exactly-once
parquet output.

At scale: the file source lists incrementally (maxFilesPerTrigger bounds a
micro-batch) and the parquet/Iceberg sink commits per micro-batch.  Streams
get no logical partitions, salting or per-partition lineage: ``run_job``'s
batch path is the only one that builds them.
"""

from __future__ import annotations

from ..spark.job import extract_articles
from ..spark.pages import PAGES_SCHEMA


def _await_or_stop(query, timeout_secs):
    """Wait for a bounded (AvailableNow) query; on timeout, stop it and
    raise instead of letting the caller read a partially committed sink
    as if it were complete."""
    finished = query.awaitTermination(timeout_secs)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} still running after "
            f"{timeout_secs}s; stopped without reading partial output"
        )


def read_pages_stream(spark, input_dir):
    """File-source stream of pages parquet dropped into ``input_dir``."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def stream_extract_to_parquet(
    spark, input_dir, output_dir, checkpoint_dir, options=None, timeout_secs=600
):
    """Drain everything currently in ``input_dir`` through the extraction
    pipeline into ``output_dir`` (Trigger.AvailableNow: bounded run,
    checkpointed so a later invocation resumes where this one stopped).
    Returns the materialized output as a batch DataFrame."""
    extracted = extract_articles(read_pages_stream(spark, input_dir), options=options)
    query = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_stop(query, timeout_secs)
    return spark.read.parquet(output_dir)

