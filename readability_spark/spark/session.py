"""SparkSession factory with the engine's configuration, and ``map_batches``.

``ENGINE_CONF`` holds only settings that differ from Spark's defaults.  html
bodies are KB-MB, so the default 10k-record Arrow batches would balloon
Python-worker memory; 512 rows per batch keeps a batch in the tens of MB at
Common-Crawl page sizes while still amortizing the Arrow transfer (SURVEY.md
section 4.2).  AQE, Python worker reuse and no speculation are Spark's
defaults and are not repeated.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

ENGINE_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # fat rows also blow up the vectorized parquet reader: the default
    # 4096-row column batch at ~25-100 KB/row is 100 MB-400 MB PER TASK
    # (observed heap OOM at 32 concurrent scan tasks); 512 rows keeps a
    # batch in the tens of MB and matches the Arrow exchange batch size
    "spark.sql.parquet.columnarReaderBatchSize": "512",
    "spark.sql.shuffle.partitions": "32",
    # deterministic timestamps across engines
    "spark.sql.session.timeZone": "UTC",
    # ParallelGC, not the G1 default: Arrow batches for fat rows are
    # multi-MB short-lived buffers — humongous allocations under G1, which
    # collapse throughput (measured 82s -> 56s on the 200k-page extraction
    # job at local[32], and catastrophically worse at large heaps).
    # NOTE: takes effect only when the driver JVM starts AFTER this conf is
    # set (get_spark in plain Python); spark-submit callers must pass it as
    # --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
}


def apply_engine_conf(spark, keep=()):
    """Set on ``spark`` each ``spark.sql.*`` entry of ``ENGINE_CONF`` that
    ``keep`` does not name and its SparkContext's conf does not hold.  That
    conf holds the submitted values (spark-submit or ``PYSPARK_SUBMIT_ARGS``
    ``--conf``, spark-defaults.conf), so they win.  Logs at WARN; returns
    ``spark``."""
    submitted = {key for key, _ in spark.sparkContext.getConf().getAll()}
    for key, value in ENGINE_CONF.items():
        if key.startswith("spark.sql.") and key not in submitted and key not in keep:
            spark.conf.set(key, value)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(app_name="readability-spark", master=None, conf=None):
    """Get or start a session on ``master`` with the engine's settings.
    ``conf`` entries win over ``ENGINE_CONF``'s.  The call that launches the
    JVM passes ``conf`` as its submitted conf, so a later session in the
    same process keeps those values where it sets no others."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    conf = conf or {}
    # only the JVM options must reach the builder: apply_engine_conf sets
    # the spark.sql.* entries once the session exists
    jvm = {k: v for k, v in ENGINE_CONF.items() if not k.startswith("spark.sql.")}
    builder = SparkSession.builder.appName(app_name).master(master)
    return apply_engine_conf(builder.config(map={**jvm, **conf}).getOrCreate(), keep=conf)


def prepare_python_worker():
    """Make PySpark's per-task ``importlib.invalidate_caches()`` cheap.

    Every Python UDF task starts in ``setup_spark_files``, which calls
    ``importlib.invalidate_caches()``.  Before CPython 3.13 that makes each
    ``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's
    whole central directory: on a worker, 12 importers over pyspark.zip, 2
    over the spark-core jar and 2 over py4j, about 28k entries and 170-230 ms
    of pure Python per task on a 4-vCPU x86 VM.  This replaces
    ``zipimporter.invalidate_caches`` with one that keeps the cached
    directory while the archive's ``(st_mtime_ns, st_size)`` is unchanged
    since it was last read (the rule ``FileFinder`` applies to directories)
    and calls the original otherwise.  Idempotent; a no-op on 3.13+, whose
    zipimporter re-reads lazily.

    ``map_batches`` calls it first in every task.  The first task of a fresh
    worker still pays once: ``setup_spark_files`` runs before the UDF is
    unpickled.
    """
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    # the directories cached now were just read by this task's
    # setup_spark_files, so their archives' current stamps describe them
    stamps = {archive: stamp(archive) for archive in zipimport._zip_directory_cache}

    @functools.wraps(original)
    def invalidate_caches(self):
        now = stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if now is not None and files is not None and stamps.get(self.archive) == now:
            self._files = files
            return
        original(self)
        stamps[self.archive] = now

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def map_batches(df, schema, columns_of):
    """``df.mapInArrow`` with output ``schema``: the engine's one Python UDF
    pass, which never converts a batch to pandas.  Each task calls
    ``prepare_python_worker()`` first.  Each output batch is
    ``columns_of(input_batch)``, one column per field in order, which
    ``pa.RecordBatch.from_arrays`` takes as it comes: a ``pa.Array`` by
    reference, cast where its type differs (Spark sends timestamps in the
    session time zone), and a list through ``pa.array``, which reads a naive
    datetime as UTC."""
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        prepare_python_worker()
        for batch in batches:
            yield pa.RecordBatch.from_arrays(columns_of(batch), schema=arrow_schema)

    return df.mapInArrow(run, schema)
