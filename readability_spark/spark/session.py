"""SparkSession factory with the engine's tuned configuration.

The conf encodes the north_rule requirements (AQE-tuned shuffle, skew join
handling) plus Arrow-batch sizing for fat HTML rows (SURVEY.md section 4.2):
html bodies are KB-MB, so the default 10k-record Arrow batches would balloon
Python-worker memory; 512 rows per batch keeps a batch in the tens of MB at
Common-Crawl page sizes while still amortizing the Arrow transfer.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession

ENGINE_CONF = {
    # AQE: runtime shuffle re-planning, partition coalescing, skew-join split
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow exchange for pandas UDFs / mapInPandas (the only JVM<->Python copy)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Python workers alive across tasks: without this every task forks a
    # fresh worker and pays the pandas/pyarrow import (~0.6-2s per task —
    # measured 25s -> 2.6s for a 64-task mapInPandas stage on local[8]).
    # Reuse saves the import, but each task still starts with PySpark's
    # importlib.invalidate_caches(), which before Python 3.13 re-parses
    # every zip on the worker's sys.path (~200 ms per task);
    # prepare_python_worker() below is what makes that call cheap
    "spark.python.worker.reuse": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # fat binary rows: keep scan partitions moderate
    "spark.sql.files.maxPartitionBytes": "128m",
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
    # set (plain-python sessions); spark-submit callers must pass it as
    # --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # lineage metrics ride an accumulator off the extraction pass; a
    # speculative duplicate task would double-count its partition's
    # docs/ok/failed/cpu_ms, so speculation stays off for extraction jobs
    # (lineage *correctness* — which partitions committed — never depends on
    # accumulator values, but the reported counts should be exact)
    "spark.speculation": "false",
}


def get_spark(app_name="readability-spark", master=None, conf=None, shuffle_partitions=None):
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(ENGINE_CONF)
    if shuffle_partitions is not None:
        merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if conf:
        merged.update(conf)
    for key, value in merged.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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

    Call it first in every ``mapInPandas`` body.  The first task of a fresh
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
