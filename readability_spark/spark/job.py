"""The Spark execution layer: vectorized extraction, explicit url-hash
partitioning and salting, per-partition lineage/metrics, resumable runs.

Design (SURVEY.md sections 3.4 / 2.5):

- dataset level is pure declarative DataFrame API (Catalyst optimizes scans,
  filters push down, AQE re-plans shuffles);
- the per-document 16-stage DOM pipeline runs inside ONE ``map_batches``
  (``mapInArrow``) invocation per row batch: Arrow exchange is the only
  JVM<->Python copy, with no pandas conversion on either side; no
  stage-per-UDF chaining, no driver-side loops over rows;
- ``map_batches`` calls ``prepare_python_worker()`` first in every task,
  so PySpark's per-task ``importlib.invalidate_caches()`` stops re-parsing
  the zips on the worker's ``sys.path``;
- partition attribution is logical: ``partition_id = pmod(xxhash64(url), N)``
  — stable across cluster sizes, so lineage written at N executors resumes
  correctly at 4N;
- the salt is a second url hash (deterministic, never ``rand()``):
  ``salt = pmod(xxhash64(url, 1), salt_n)``.  ``partition_id`` is already
  a url hash, so no domain can make a logical partition hot; the salt only
  splits each logical partition into ``salt_n`` shuffle buckets, keeping
  the logical partition key intact.  The buckets are hashed, so they can
  collide: 8 logical partitions with ``salt_n=1`` run as 6 tasks.

At 100 TB the same plan holds: the parquet/Iceberg scan prunes on the
partition transform and the repartition is the only shuffle.  Each commit
group's output write replaces that group's own ``partition_id``
partitions (``sources.replace_partitions``), and only then is the group
recorded in the lineage table.  A run that dies between the two re-runs
the group on resume, and the rewrite replaces what the first write left,
so every url keeps exactly one output row.  A ``table:`` output must
therefore be partitioned by ``partition_id``; ``run_job`` checks that
before extracting anything.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import pyspark.sql.functions as F
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..options import DEFAULT_OPTIONS
from ..pipeline import extract_row
from .session import map_batches
from .sources import (
    append_ref,
    is_table_ref,
    local_path,
    read_ref,
    replace_partitions,
    require_partitioned_by,
)

ARTICLE_FIELDS = [
    StructField("byline", StringType(), True),
    StructField("content", StringType(), True),
    StructField("dir", StringType(), True),
    StructField("excerpt", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("length", LongType(), True),
    StructField("published_time", StringType(), True),
    StructField("site_name", StringType(), True),
    StructField("text_content", StringType(), True),
    StructField("title", StringType(), True),
]

STATUS_FIELDS = [
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("extract_ms", DoubleType(), True),
]

# docs/ok/failed/docs_per_sec are *at-least-once* metrics: they come from an
# accumulator, so a retried task re-adds its partition's counts (speculation
# is off by Spark's default; task retries after executor loss can still
# inflate them).  Which partitions committed — the resume contract — depends
# only on the (run_id, partition_id, status) rows, never on these counts;
# exact counts are always derivable from the output table itself.
# docs_per_sec is docs / sum(extract_ms) over the partition's rows: a per-core
# row rate inside extract_row, not job throughput (JobReport.docs_per_sec is
# docs / job wall time).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("docs", LongType(), False),
        StructField("ok", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("started_at", TimestampType(), False),
        StructField("finished_at", TimestampType(), False),
        StructField("docs_per_sec", DoubleType(), True),
    ]
)

_ARTICLE_COL_NAMES = [f.name for f in ARTICLE_FIELDS]

_RESERVED = set(_ARTICLE_COL_NAMES) | {
    "status",
    "error",
    "extract_ms",
}


def _passthrough_fields(input_schema):
    """Input columns carried through unchanged, except ``html`` and names
    colliding with Article output columns (e.g. the crawl's ``lang`` hint vs
    the extracted lang) — the extracted value wins."""
    return [
        f
        for f in input_schema.fields
        if f.name != "html" and f.name not in _RESERVED
    ]


class MetricsAccumulatorParam(AccumulatorParam):
    """Accumulator merging per-logical-partition extraction metrics:
    ``{partition_id: [docs, ok, failed, cpu_ms]}``.  Lets the job collect
    the north_rule's per-partition docs/sec + failure counts as a side
    effect of the one extraction pass — no readback scan of the output.
    Metrics-only by contract: a retried task double-counts its partition's
    metrics, but lineage *correctness* (which partitions committed) never
    depends on these values, only on the commit group's write succeeding."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for pid, m in b.items():
            cur = a.get(pid)
            if cur is None:
                a[pid] = list(m)
            else:
                for i in range(4):
                    cur[i] += m[i]
        return a


def extract_articles(
    df: DataFrame,
    options=None,
    article_columns=None,
    metrics_acc=None,
) -> DataFrame:
    """Add the Article columns to a pages DataFrame.

    Library surface mirroring Readability::parse at dataset scale
    (/root/reference/src/readability.rs:38-63): one vectorized
    ``map_batches`` pass; per-row failures become status/error columns,
    never exceptions (a failed document must not kill the Arrow batch).

    The ``html`` column is read and never passed through.  With
    Options(fix_relative_uris=True) each row's ``url`` is its base URI for
    the fixRelativeUris pass, so the frame must have a ``url`` column.

    ``article_columns`` is projection pushdown into the UDF: an iterable of
    Article column names to emit (default: all ten).  Catalyst prunes
    columns it can see, but it cannot see inside a Python UDF — when the
    consumer never reads ``content``, dropping it here skips building a
    ~25 KB HTML string per row (dom.serialize) AND shipping it through
    Arrow AND writing it to parquet.  status/error/extract_ms are always
    emitted.

    ``metrics_acc`` (an accumulator built with ``MetricsAccumulatorParam``)
    collects per-``partition_id`` [docs, ok, failed, cpu_ms] as the pass
    runs, so callers get per-partition throughput without re-scanning the
    output.
    """
    options = options or DEFAULT_OPTIONS
    if article_columns is None:
        art_cols = list(_ARTICLE_COL_NAMES)
    else:
        art_cols = [c for c in _ARTICLE_COL_NAMES if c in set(article_columns)]
        unknown = set(article_columns) - set(_ARTICLE_COL_NAMES)
        if unknown:
            raise ValueError(f"unknown article columns: {sorted(unknown)}")
    want_content = "content" in art_cols
    art_fields = [f for f in ARTICLE_FIELDS if f.name in art_cols]
    passthrough = _passthrough_fields(df.schema)
    out_schema = StructType(passthrough + art_fields + STATUS_FIELDS)
    pass_cols = [f.name for f in passthrough]
    if metrics_acc is not None and "partition_id" not in df.columns:
        raise ValueError("metrics_acc requires a 'partition_id' column")
    fix_uris = options.fix_relative_uris
    if fix_uris and "url" not in df.columns:
        raise ValueError("fix_relative_uris requires a 'url' column")

    def columns_of(batch):
        rows = {name: [] for name in art_cols}
        statuses, errors, timings = [], [], []
        bases = batch.column("url").to_pylist() if fix_uris else None
        for idx, raw in enumerate(batch.column("html").to_pylist()):
            t0 = time.perf_counter()
            article, status, error = extract_row(
                raw,
                options=options,
                base_url=None if bases is None else bases[idx],
                want_content=want_content,
            )
            timings.append((time.perf_counter() - t0) * 1000.0)
            statuses.append(status)
            errors.append(error)
            for name in art_cols:
                rows[name].append(None if article is None else getattr(article, name))
        if metrics_acc is not None:
            local: dict = {}
            pids = batch.column("partition_id").to_pylist()
            for pid, status, ms in zip(pids, statuses, timings):
                m = local.get(pid)
                if m is None:
                    m = local[pid] = [0, 0, 0, 0.0]
                m[0] += 1
                if status == "ok":
                    m[1] += 1
                else:
                    m[2] += 1
                m[3] += ms
            metrics_acc.add(local)
        passed = [batch.column(name) for name in pass_cols]
        return passed + [rows[name] for name in art_cols] + [statuses, errors, timings]

    return map_batches(df, out_schema, columns_of)


READERABLE_SCHEMA_FIELDS = [
    StructField("readerable", BooleanType(), True),
    StructField("readerable_score", DoubleType(), True),
]


def readerable_flags(df: DataFrame) -> DataFrame:
    """mozilla isProbablyReaderable over a pages DataFrame: (url, readerable,
    readerable_score) per page, vectorized map_batches (no per-row Python at
    the Spark API level).  Semantics: readability_spark/readerable.py; the
    score is the early-exit accumulated value, rounded to 4 for portability.
    """
    from readability_spark.readerable import is_probably_readerable

    out_schema = StructType([df.schema["url"]] + READERABLE_SCHEMA_FIELDS)

    def columns_of(batch):
        flags, scores = [], []
        for raw in batch.column("html").to_pylist():
            try:
                ok, score = is_probably_readerable(raw)
            except Exception:  # undecodable html: not readerable
                ok, score = None, None
            flags.append(ok)
            scores.append(None if score is None else round(score, 4))
        return [batch.column("url"), flags, scores]

    return map_batches(df.select("url", "html"), out_schema, columns_of)


def with_partition_id(df: DataFrame, num_partitions: int) -> DataFrame:
    """Logical partition key: stable hash of url (north_rule: explicit hash
    partitioning on url)."""
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("url")), F.lit(num_partitions)).cast("int"),
    )


def with_salt(df: DataFrame, salt_n: int, url_col="url") -> DataFrame:
    """Deterministic salt: a second url hash.  Combined with the partition
    id in repartition(), it splits each logical partition into salt_n hash
    buckets.  It fixes no domain skew, because ``partition_id`` is already
    a url hash; the buckets can collide (module docstring)."""
    return df.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col(url_col), F.lit(1)), F.lit(salt_n)).cast("int"),
    )


@dataclass
class JobReport:
    """One ``run_job`` call.  ``docs``/``ok``/``failed`` (and so
    ``docs_per_sec``) are at-least-once accumulator counts: a retried task
    adds its rows again.  Exact counts come from the output itself."""

    run_id: str
    partitions_total: int
    partitions_done_previously: int
    partitions_processed: int
    docs: int
    ok: int
    failed: int
    wall_secs: float
    docs_per_sec: float


class LineageCorruptError(RuntimeError):
    """The lineage table exists but cannot be read.  Raised instead of
    silently treating the run as fresh: that would re-extract and rewrite
    every partition already committed, and unreadable lineage is worth a
    loud failure first."""


def _read_lineage(spark, lineage_path):
    """Read the lineage table, distinguishing "no lineage yet" (fresh run →
    None) from "lineage exists but is unreadable" (corrupt →
    LineageCorruptError).  Silently treating corrupt lineage as fresh would
    recompute already-committed partitions.  A path is read with
    LINEAGE_SCHEMA, so an empty directory reads as 0 rows; a file that
    cannot be scanned fails later, at the scan (completed_partitions)."""
    try:
        if is_table_ref(lineage_path):
            return read_ref(spark, lineage_path)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    except Exception as exc:
        # missing ↔ corrupt is classified from the engine's error class
        # (PATH_NOT_FOUND / TABLE_OR_VIEW_NOT_FOUND → fresh run); anything
        # else is a real read failure
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg:
            return None
        raise LineageCorruptError(
            f"lineage at {lineage_path!r} could not be read; refusing to "
            f"resume blind: {exc}"
        ) from exc


def _append_lineage(spark, lineage_rows, lineage_path):
    """Append a handful of lineage rows.  These are driver-side metadata
    (one row per logical partition per commit group); a path sink writes
    them directly with pyarrow — spinning up a Spark job to persist 64 tiny
    rows costs ~1.5 s of fixed overhead per commit group, which at small
    commit units is pure scaling-efficiency loss.  Table refs (Iceberg) and
    remote paths still go through the engine, which owns their file
    systems; a table append is transactional."""
    fs_path = local_path(lineage_path)
    if fs_path is None:
        append_ref(spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA), lineage_path)
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # derived from LINEAGE_SCHEMA, so the two write paths cannot drift: a
    # Spark timestamp is a UTC-adjusted arrow timestamp, not timestamp_ntz
    schema = to_arrow_schema(LINEAGE_SCHEMA)
    cols = list(zip(*lineage_rows))
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(cols, schema)],
        schema=schema,
    )
    os.makedirs(fs_path, exist_ok=True)
    # crash-safe commit: write to a dot-prefixed temp name (Spark/Hadoop
    # readers skip '.'/'_' files) then atomically rename into place, so a
    # crash mid-write (OOM/preemption — exactly the resume scenario lineage
    # exists for) can never leave a truncated parquet the resume path reads
    name = f"lineage-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(fs_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(fs_path, name))


def completed_partitions(spark, lineage_path, run_id):
    lineage = _read_lineage(spark, lineage_path)
    if lineage is None:
        return set()
    try:
        rows = (
            lineage.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
            .select("partition_id")
            .distinct()
            .collect()
        )
    except Exception as exc:
        # the read is lazy: a truncated lineage file surfaces here, at the
        # scan — same contract as _read_lineage, refuse to resume blind
        raise LineageCorruptError(
            f"lineage at {lineage_path!r} exists but failed to scan; refusing "
            f"to resume (would recompute committed partitions): {exc}"
        ) from exc
    return {r.partition_id for r in rows}


def run_job(
    spark,
    pages_df: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    num_partitions: int = 64,
    salt_n: int = 8,
    commit_groups: int = 4,
    options=None,
    article_columns=None,
) -> JobReport:
    """Resumable extraction job with per-partition lineage.

    The logical partition space [0, num_partitions) is split into
    ``commit_groups`` commit units; each unit is extracted, written to the
    output (parquet partitioned by partition_id) replacing its own
    partitions, and recorded in the lineage table before the next unit
    starts.  A re-run with the same run_id reads the partition ids its
    lineage rows mark ``ok`` into a driver-side set and filters the input
    to the rest — resume without recompute (north_rule); a unit re-run
    after a crash before its lineage replaces what it wrote, so each url
    has one output row.  A ``table:`` output must be partitioned by
    ``partition_id`` (else ValueError before any extraction).  On an
    Iceberg catalog each commit unit is one transactional
    ``overwritePartitions``; a parquet path stands in for it where no
    Iceberg runtime is installed.

    Per-partition metrics (docs, ok, failed, docs/sec) come from a metrics
    accumulator fed by the extraction pass itself — the write is the only
    scan of the data; nothing is read back.  ``article_columns`` prunes the
    emitted Article columns (see extract_articles): a text-corpus job that
    never consumes the content HTML should pass e.g.
    ``("title", "text_content", "length", "lang")``.  ``num_partitions``,
    ``salt_n`` and ``commit_groups`` below 1 raise ValueError.  The
    report's ``docs``, ``ok`` and ``failed`` are at-least-once counts
    (``JobReport``).
    """
    for name, value in (
        ("num_partitions", num_partitions),
        ("salt_n", salt_n),
        ("commit_groups", commit_groups),
    ):
        if value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")
    if is_table_ref(output_path):
        require_partitioned_by(spark, output_path, "partition_id")
    t_start = time.time()
    pages = with_partition_id(pages_df, num_partitions)

    done = completed_partitions(spark, lineage_path, run_id)
    todo = [p for p in range(num_partitions) if p not in done]

    groups = [
        todo[i::commit_groups] for i in range(commit_groups)
    ]
    groups = [g for g in groups if g]

    total_docs = total_ok = total_failed = 0
    processed = 0

    for group in groups:
        started_at = datetime.now(timezone.utc).replace(tzinfo=None)
        subset = pages.filter(F.col("partition_id").isin(group))
        subset = with_salt(subset, salt_n)
        # physical partitioning: one shuffle, keyed by (logical partition,
        # salt): salt_n hash buckets per logical partition, while
        # attribution stays logical
        subset = subset.repartition(len(group) * salt_n, "partition_id", "salt")
        # metrics ride the extraction pass itself (no output readback scan)
        acc = spark.sparkContext.accumulator({}, MetricsAccumulatorParam())
        extracted = extract_articles(
            subset.drop("salt"),
            options=options,
            article_columns=article_columns,
            metrics_acc=acc,
        )
        replace_partitions(extracted, output_path, "partition_id")
        finished_at = datetime.now(timezone.utc).replace(tzinfo=None)

        by_pid = acc.value
        lineage_rows = []
        for pid in group:
            docs, ok, failed, cpu_ms = by_pid.get(pid, (0, 0, 0, 0.0))
            lineage_rows.append(
                (
                    run_id,
                    pid,
                    "ok",
                    docs,
                    ok,
                    failed,
                    started_at,
                    finished_at,
                    (docs / (cpu_ms / 1000.0)) if cpu_ms > 0 else None,
                )
            )
            total_docs += docs
            total_ok += ok
            total_failed += failed
            processed += 1
        _append_lineage(spark, lineage_rows, lineage_path)

    wall = time.time() - t_start
    return JobReport(
        run_id=run_id,
        partitions_total=num_partitions,
        partitions_done_previously=len(done),
        partitions_processed=processed,
        docs=total_docs,
        ok=total_ok,
        failed=total_failed,
        wall_secs=wall,
        docs_per_sec=(total_docs / wall) if wall > 0 else 0.0,
    )
