"""Structured Streaming extraction (readability_spark/streaming).

Correctness anchors:
- An AvailableNow drain of a file stream == batch extraction on the same
  input, row for row.
- A re-drain from the same checkpoint with no new data emits no duplicate
  output rows (exactly-once sink).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark.spark.job import extract_articles
from readability_spark.spark.pages import pages_from_documents
from readability_spark.spark.session import get_spark
from readability_spark.streaming import stream_extract_to_parquet


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(app_name="stream-tests", master="local[8]", conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0"),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s1"),
        (2, "alpha beta gamma delta epsilon eta", "en", "s0"),
        (3, "one two three four five six", "en", "s1"),
        (4, "red orange yellow green blue indigo", "en", "s0"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


class TestStreaming:
    def test_stream_drain_equals_batch(self, spark, docs, tmp_path_factory):
        base = tmp_path_factory.mktemp("stream")
        pages = pages_from_documents(docs)
        pages.write.mode("overwrite").parquet(str(base / "input"))

        streamed = stream_extract_to_parquet(
            spark, str(base / "input"), str(base / "out"), str(base / "ckpt")
        )
        batch = extract_articles(spark.read.parquet(str(base / "input")))
        cols = ["url", "title", "byline", "text_content", "length", "status"]
        s = sorted(map(tuple, streamed.select(cols).collect()))
        b = sorted(map(tuple, batch.select(cols).collect()))
        assert s == b and len(s) == 5

    def test_stream_resume_processes_only_new_files(self, spark, docs, tmp_path_factory):
        base = tmp_path_factory.mktemp("stream_resume")
        pages = pages_from_documents(docs)
        pages.filter(F.col("url").contains("doc-0000") == False).write.mode(
            "overwrite"
        ).parquet(str(base / "input"))
        first = stream_extract_to_parquet(
            spark, str(base / "input"), str(base / "out"), str(base / "ckpt")
        )
        n_first = first.count()
        # drop one more page file into the landing zone, re-drain
        pages.limit(0).write.mode("append").parquet(str(base / "input"))
        again = stream_extract_to_parquet(
            spark, str(base / "input"), str(base / "out"), str(base / "ckpt")
        )
        # no new data -> no duplicate output rows (exactly-once sink)
        assert again.count() == n_first
