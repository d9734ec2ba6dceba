"""Table source/sink abstraction: Iceberg catalog tables in production,
parquet paths in this sandbox.

The north_rule targets Iceberg tables of Common-Crawl-style pages.  This
container ships no Iceberg runtime jars (verified: /opt/spark/jars has
none, no pyiceberg), so every job/test here runs against parquet paths —
but all engine code routes reads and writes through this module, so a
cluster image with ``iceberg-spark-runtime`` on the classpath and a
configured catalog switches the entire pipeline to Iceberg by passing
``table:<catalog.db.name>`` refs instead of filesystem paths.

Iceberg-specific notes for the production path (API per the public Iceberg
Spark docs):
- pages table layout: ``PARTITIONED BY (days(warc_ts), bucket(64, url))`` —
  partition pruning on crawl date, url-bucket co-location for the
  extraction shuffle;
- each commit group's output write replaces that group's own
  ``partition_id`` partitions (``writeTo(t).overwritePartitions()``,
  transactional), so a group re-run after a crash between the output
  write and the lineage append leaves one row per url; the output table
  must be partitioned by ``partition_id`` (spark/job.py);
- resume filtering and golden compares are unchanged — they operate on
  DataFrames, not on the storage format.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

TABLE_PREFIX = "table:"


def is_table_ref(ref: str) -> bool:
    return ref.startswith(TABLE_PREFIX)


def local_path(ref: str) -> str | None:
    """The filesystem path a ref names when it is local — no URI scheme, or
    ``file:`` (``file:/x`` and ``file:///x`` both give ``/x``) — else None
    (``table:`` refs and remote URIs).  Hadoop normalizes URIs to
    single-slash forms like ``dbfs:/x``, so a test for ``://`` would take
    those for local paths."""
    scheme = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", ref)
    if scheme is None:
        return ref
    if scheme.group(1).lower() == "file":
        return re.sub(r"^file:(//)?", "", ref, flags=re.IGNORECASE)
    return None


def read_ref(spark, ref: str) -> DataFrame:
    """Read a pages/articles/lineage ref: ``table:<ident>`` -> catalog table
    (Iceberg when the catalog is an Iceberg one), else parquet path."""
    if is_table_ref(ref):
        return spark.read.table(ref[len(TABLE_PREFIX):])
    return spark.read.parquet(ref)


def _is_v1_write_error(exc) -> bool:
    """Whether a V2 ``writeTo`` write failed because the table is a v1
    session-catalog table.  Decided on the stable error class (message
    wording varies by Spark version), with the message as a second signal."""
    # getCondition is the Spark 4 name; getErrorClass the 3.x one
    get_class = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
    error_class = (get_class() or "") if callable(get_class) else ""
    return error_class == "_LEGACY_ERROR_TEMP_1012" or "v1 table" in str(exc)


def append_ref(df: DataFrame, ref: str) -> None:
    """Append to a ref.  Catalog tables use the V2 ``writeTo().append()``
    (transactional on Iceberg); v1 session-catalog tables (the only kind
    this sandbox's built-in catalog serves) fall back to the name-matched
    ``saveAsTable`` append, so the whole table-ref plumbing stays executable
    without Iceberg jars.  Paths use a parquet append."""
    if is_table_ref(ref):
        from pyspark.errors import AnalysisException

        ident = ref[len(TABLE_PREFIX):]
        try:
            df.writeTo(ident).append()
        except AnalysisException as exc:
            # anything but a v1 table (table missing, schema mismatch, ...)
            # re-raises: saveAsTable would CREATE a missing table, which
            # must stay an error on an append
            if not _is_v1_write_error(exc):
                raise
            df.write.mode("append").saveAsTable(ident)
        return
    df.write.mode("append").parquet(ref)


def require_partitioned_by(spark, ref: str, column: str) -> None:
    """Raise ValueError unless the ``table:`` ref ``ref`` is partitioned by
    ``column``.  ``replace_partitions`` relies on it: an overwrite of an
    unpartitioned table replaces every row."""
    ident = ref[len(TABLE_PREFIX):]
    if not any(c.name == column and c.isPartition for c in spark.catalog.listColumns(ident)):
        raise ValueError(f"output table {ident!r} must be partitioned by {column!r}")


def replace_partitions(df: DataFrame, ref: str, column: str) -> None:
    """Write ``df`` to ``ref``, replacing the rows of every ``column``
    partition that ``df`` holds and leaving the others as they are, so
    writing the same rows twice leaves them once.  Catalog tables use the
    V2 ``writeTo().overwritePartitions()`` (transactional on Iceberg).  A
    v1 session-catalog table, which must be partitioned by ``column``
    (``require_partitioned_by``), takes an ``insertInto`` overwrite: it
    matches columns by position, so ``df`` is put in the table's column
    order, and it follows the session's partition-overwrite mode, never a
    writer option, so that mode is dynamic for the call and restored after
    it.  Paths take a dynamic-partition overwrite with hive-style
    partition dirs."""
    if is_table_ref(ref):
        from pyspark.errors import AnalysisException

        ident = ref[len(TABLE_PREFIX):]
        try:
            df.writeTo(ident).overwritePartitions()
        except AnalysisException as exc:
            if not _is_v1_write_error(exc):
                raise
            spark = df.sparkSession
            key = "spark.sql.sources.partitionOverwriteMode"
            mode = spark.conf.get(key)
            spark.conf.set(key, "dynamic")
            try:
                df.select(*spark.table(ident).columns).write.insertInto(ident, overwrite=True)
            finally:
                spark.conf.set(key, mode)
        return
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        column
    ).parquet(ref)
