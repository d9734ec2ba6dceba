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
- appends are transactional per commit group (``writeTo(t).append()``),
  so a group's rows land whole or not at all; the output append and the
  lineage append are still two commits, so resume is at-least-once (a
  run that dies between them appends that group again, see spark/job.py);
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


def append_ref(df: DataFrame, ref: str, partition_cols=()) -> None:
    """Append to a ref.  Catalog tables use the V2 ``writeTo().append()``
    (transactional on Iceberg); v1 session-catalog tables (the only kind
    this sandbox's built-in catalog serves) fall back to the name-matched
    ``saveAsTable`` append, so the whole table-ref plumbing stays executable
    without Iceberg jars.  Paths use a parquet append with hive-style
    partition dirs."""
    if is_table_ref(ref):
        from pyspark.errors import AnalysisException

        ident = ref[len(TABLE_PREFIX):]
        try:
            df.writeTo(ident).append()
        except AnalysisException as exc:
            # v1-session-catalog tables reject the V2 write path.  Gate the
            # fallback on the stable error class (message wording varies by
            # Spark version), with the message substring as a secondary
            # signal; anything else (table missing, schema mismatch, ...)
            # re-raises — saveAsTable would CREATE a missing table, which
            # must stay an error on an append.
            error_class = ""
            # getCondition is the Spark 4 name; getErrorClass the 3.x one
            get_class = getattr(exc, "getCondition", None) or getattr(
                exc, "getErrorClass", None
            )
            if callable(get_class):
                error_class = get_class() or ""
            if error_class != "_LEGACY_ERROR_TEMP_1012" and "v1 table" not in str(exc):
                raise
            df.write.mode("append").saveAsTable(ident)
        return
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(ref)
