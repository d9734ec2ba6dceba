"""readability_spark: a PySpark-native main-content extraction engine.

A brand-new implementation (not a port) of the extraction semantics of
terror/readability (reference at /root/reference), designed Spark-first:
the per-document 16-stage DOM pipeline runs as pure Python inside
Arrow-vectorized ``mapInArrow`` batches, while everything dataset-level
(scan, url-hash partitioning and salting, resume filtering, metrics aggregation)
is declarative DataFrame API left to Catalyst + AQE.

Public surface (SURVEY.md section 7.5):

    extract(html, base_url=None, options=Options()) -> Article
    extract_articles(df, options=Options()) -> DataFrame
    run_job(spark, ...) -> JobReport
"""

from .model import Article, ElementLimitExceeded, ExtractionError, Metadata
from .options import DEFAULT_OPTIONS, Options
from .pipeline import extract, extract_row

__all__ = [
    "Article",
    "DEFAULT_OPTIONS",
    "ElementLimitExceeded",
    "ExtractionError",
    "Metadata",
    "Options",
    "extract",
    "extract_row",
]
