"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over sf0.001.
``queries()`` exposes the 13 extraction entries as (spark, sf_dir) ->
DataFrame callables; ``oracle_sql()`` gives the DuckDB equivalent of each.

The extraction queries are genuinely end-to-end: pages are synthesized
deterministically from the ``documents`` table
(readability_spark/spark/pages.py), the full 16-stage DOM pipeline runs in
a vectorized mapInArrow pass, and the DuckDB oracle recomputes the
expected Article fields in closed form — so a value-hash match certifies
byte-identical extracted text per url (the north_rule invariant).
"""

from __future__ import annotations

import shutil
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from readability_spark.spark.job import extract_articles, with_partition_id
from readability_spark.spark.pages import page_url, read_pages, synthesize_html
from readability_spark.spark.warc import (
    build_wat,
    build_warc,
    read_warc_pages,
    read_wat_metadata,
    read_wet_documents,
)

_Q = {}
_O = {}


def _q(name, oracle=None):
    def deco(fn):
        _Q[name] = fn
        if oracle is not None:
            _O[name] = oracle
        return fn

    return deco


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pages_extracted(spark, sf_dir):
    return extract_articles(read_pages(spark, sf_dir))


# ------------------------------------------------------------- extraction
# Closed-form oracle expressions mirroring
# readability_spark/spark/pages.py::synthesize_html
_SQL_TITLE = "'Daily Report Number ' || doc_id || ' Edition'"
_SQL_TEXT_CONTENT = (
    f"{_SQL_TITLE} || ' | ExampleSite' || {_SQL_TITLE} || text"
    " || ' Section ' || doc_id || ' closing remarks.'"
)
_SQL_URL = (
    "'https://' || (case when doc_id % 10 < 4 then 'hot' else source end)"
    " || '.example.com/articles/doc-' || lpad(cast(doc_id as varchar), 6, '0') || '.html'"
)


@_q(
    "extract_articles_meta",
    f"""
    SELECT {_SQL_URL} AS url,
           'Daily Report Number ' || doc_id || ' Edition' AS title,
           'Reporter ' || (doc_id % 20) AS byline,
           'ExampleSite' AS site_name,
           printf('2026-02-%02d', 1 + doc_id % 27) AS published_time,
           nullif(trim(lang), '') AS lang,
           CAST(NULL AS VARCHAR) AS dir,
           trim(text) AS excerpt,
           'ok' AS status
    FROM documents
    """,
)
def extract_articles_meta(spark, sf_dir):
    """Full 16-stage extraction; metadata fields vs closed-form oracle."""
    return _pages_extracted(spark, sf_dir).select(
        "url", "title", "byline", "site_name", "published_time", "lang", "dir",
        "excerpt", "status",
    )


@_q(
    "extract_articles_text",
    f"""
    SELECT {_SQL_URL} AS url,
           {_SQL_TEXT_CONTENT} AS text_content,
           strlen({_SQL_TEXT_CONTENT}) AS length
    FROM documents
    """,
)
def extract_articles_text(spark, sf_dir):
    """The byte-identical-text-per-url invariant, checked end to end."""
    return _pages_extracted(spark, sf_dir).select("url", "text_content", "length")


@_q(
    "extract_partition_stats",
    f"""
    WITH pages AS (SELECT {_SQL_URL} AS url FROM documents),
    pids AS (SELECT hash(url) % 32 AS pid FROM pages)
    SELECT count(*) AS n_partitions_expected
    FROM (SELECT 1 FROM pids GROUP BY pid)
    """,
)
def extract_partition_stats(spark, sf_dir):
    """Hash-partitioning coverage: every logical partition non-empty at this
    scale.  (Hash functions differ across engines, so the oracle checks the
    partition-count invariant, not the assignment.)"""
    df = with_partition_id(read_pages(spark, sf_dir), 32)
    return df.groupBy("partition_id").count().agg(
        F.count(F.lit(1)).alias("n_partitions_expected")
    )


@_q(
    "domain_skew",
    """
    SELECT (case when doc_id % 10 < 4 then 'hot' else source end) || '.example.com' AS domain,
           count(*) AS n_pages
    FROM documents GROUP BY 1
    """,
)
def domain_skew(spark, sf_dir):
    """Pages per url host: one groupBy over the synthesized pages, whose
    closed form sends 40% of documents to the single 'hot' host.  A report
    only — nothing reads it to size `run_job`'s placement or salt."""
    pages = read_pages(spark, sf_dir)
    return (
        pages.withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


@_q(
    "extract_scored_text",
    f"""
    SELECT {_SQL_URL} AS url,
           text || ' Section ' || doc_id || ' closing remarks.' AS text_content
    FROM documents
    """,
)
def extract_scored_text(spark, sf_dir):
    """Arc90 scoring pass (readability_spark/scoring.py): the top candidate
    on the synthetic page is the #page-main div (positive id signal +
    paragraph seeds), so the scored text drops the nav/site boilerplate the
    whole-document output keeps.  The prep pass (prep.py, mozilla
    _cleanHeaders) then drops the <h1> because it duplicates the extracted
    title.  Closed-form oracle: article text + closing paragraph only."""
    from readability_spark.options import Options

    opts = Options(content_extraction=True, min_text_length=0)
    return extract_articles(read_pages(spark, sf_dir), options=opts).select(
        "url", "text_content"
    )


@_q(
    "extract_prepped_text",
    f"""
    SELECT {_SQL_URL} AS url,
           text || ' Section ' || doc_id || ' closing remarks.' AS text_content
    FROM documents
    """,
)
def extract_prepped_text(spark, sf_dir):
    """mozilla _prepArticle boilerplate strip (readability_spark/prep.py),
    proven end to end: the input page embeds a newsletter <form>, a
    link-dense promo <table>, a share widget and an empty paragraph inside
    the winning #page-main subtree; the scored output matches the SAME
    closed form as the clean contract page, so the hash equality is a proof
    every junk family (forms, layout tables, share widgets, empty
    paragraphs, title-duplicate headers) was removed."""
    from readability_spark.options import Options
    from readability_spark.spark.pages import junk_pages_from_documents

    opts = Options(content_extraction=True, min_text_length=0)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = junk_pages_from_documents(docs)
    return extract_articles(pages, options=opts).select("url", "text_content")


@_q(
    "extract_media_text",
    f"""
    SELECT {_SQL_URL} AS url,
           text || ' Media notes ' || doc_id || '.' AS text_content
    FROM documents
    """,
)
def extract_media_text(spark, sf_dir):
    """Second scoring-path page template (media-heavy, readability_spark/
    spark/pages.py synthesize_media_html): a lazy image + noscript fallback,
    a youtube embed, and a link-dense nested layout table all sit inside the
    winning subtree.  The closed-form hash equality proves the noscript
    unwrap ran, the embed survived prep's video allowlist without leaking
    text, and the nested table was stripped by link density."""
    from readability_spark.options import Options
    from readability_spark.spark.pages import media_pages_from_documents

    opts = Options(content_extraction=True, min_text_length=0)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = media_pages_from_documents(docs)
    return extract_articles(pages, options=opts).select("url", "text_content")


@_q(
    "readerable_flags",
    f"""
    WITH flags AS (
      SELECT {_SQL_URL} AS url,
             CASE WHEN length(trim(text)) >= 140
                  THEN sqrt(length(trim(text)) - 140) ELSE 0.0 END AS s
      FROM documents)
    SELECT url, s > 20 AS readerable, round(s, 4) AS readerable_score
    FROM flags
    """,
)
def readerable_flags_q(spark, sf_dir):
    """mozilla isProbablyReaderable over the pages table (readability_spark/
    readerable.py).  On the contract page the only scoring candidate is the
    article <p> (the closing <p> is under 140 chars), so the early-exit
    score is closed-form: sqrt(len(trim(text)) - 140) when long enough."""
    from readability_spark.spark.job import readerable_flags

    return readerable_flags(read_pages(spark, sf_dir))


# ------------------------------------------------------------ crawl archives
_ARCHIVE_DATE = "2026-03-01T00:00:00Z"


def _fresh_dir(kind, sf_dir, *sub):
    """An empty ``/tmp/readability_<kind>/<sf>[/<sub>...]`` directory."""
    base = Path(f"/tmp/readability_{kind}", Path(sf_dir).name, *sub)
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    return base


def _write_archives(sf_dir, suffix, record, build=build_warc):
    """Package ``documents`` as 4 gzipped archives ``crawl-<i>.<suffix>``,
    archive i holding ``record(row)`` for the rows with ``doc_id % 4 == i``
    (built by ``build``), in a fresh directory named after the archive kind;
    return the directory."""
    base = _fresh_dir(suffix.split(".")[-2], sf_dir)
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    for part in range(4):
        records = [record(r) for r in docs[docs["doc_id"] % 4 == part].itertuples()]
        (base / f"crawl-{part}.{suffix}").write_bytes(build(records, compress=True))
    return str(base)


@_q(
    "warc_extract_meta",
    f"""
    SELECT {_SQL_URL} AS url,
           'Daily Report Number ' || doc_id || ' Edition' AS title,
           'Reporter ' || (doc_id % 20) AS byline,
           'ok' AS status
    FROM documents
    """,
)
def warc_extract_meta(spark, sf_dir):
    """Common-Crawl-native ingestion: the corpus is packaged as gzipped
    WARC response records (readability_spark/spark/warc.py), read back via
    the binaryFile-source connector (one task per archive), exploded to
    pages, and run through the same extraction — oracle equality with the
    parquet-sourced path proves the connector end to end."""
    base = _write_archives(
        sf_dir,
        "warc.gz",
        lambda r: (
            "response",
            page_url(r.doc_id, r.source),
            _ARCHIVE_DATE,
            synthesize_html(r.doc_id, r.text, r.lang).encode("utf-8"),
        ),
    )
    return extract_articles(read_warc_pages(spark, base)).select(
        "url", "title", "byline", "status"
    )


@_q(
    "wet_text_stats",
    f"""
    SELECT {_SQL_URL} AS url,
           length(text) AS n_chars,
           nullif(trim(lang), '') AS lang
    FROM documents
    """,
)
def wet_text_stats(spark, sf_dir):
    """WET-tier ingestion: the corpus packaged as gzipped WET ``conversion``
    records (crawl-extracted plain text + identified language header), read
    back via the binaryFile connector and fed straight to the text-side
    stats — the no-HTML-parse fast path.  Oracle equality with the parquet
    documents proves the WET connector end to end."""
    base = _write_archives(
        sf_dir,
        "warc.wet.gz",
        lambda r: (
            "conversion",
            page_url(r.doc_id, r.source),
            _ARCHIVE_DATE,
            r.text.encode("utf-8"),
            {"WARC-Identified-Content-Language": r.lang}
            if isinstance(r.lang, str) and r.lang.strip()
            else {},
        ),
    )
    return read_wet_documents(spark, base).select(
        "url",
        F.length("text").alias("n_chars"),
        F.nullif(F.trim(F.col("lang")), F.lit("")).alias("lang"),
    )


@_q(
    "wat_link_meta",
    f"""
    SELECT {_SQL_URL} AS url,
           'Daily Report Number ' || doc_id || ' Edition' AS title,
           CAST(1 + doc_id % 3 AS INT) AS n_links,
           '/promo/' || doc_id || '/0' AS first_link
    FROM documents
    """,
)
def wat_link_meta(spark, sf_dir):
    """WAT-tier ingestion (the crawl's metadata sidecar): the corpus
    packaged as gzipped WAT ``metadata`` records carrying the public
    Common-Crawl JSON envelope (parsed head title + outlink list), read
    back via the binaryFile connector and skimmed without touching any
    HTML.  Oracle equality proves the JSON-envelope parser end to end."""
    base = _write_archives(
        sf_dir,
        "warc.wat.gz",
        lambda r: (
            page_url(r.doc_id, r.source),
            _ARCHIVE_DATE,
            f"Daily Report Number {r.doc_id} Edition",
            [f"/promo/{r.doc_id}/{j}" for j in range(1 + r.doc_id % 3)],
        ),
        build=build_wat,
    )
    return read_wat_metadata(spark, base).select(
        "url", "title", "n_links", F.element_at(F.col("links"), 1).alias("first_link")
    )


@_q(
    "pdf_extract_text",
    """
    SELECT doc_id, text AS pdf_text, length(text) AS pdf_chars, 'ok' AS status
    FROM documents
    """,
)
def pdf_extract_text(spark, sf_dir):
    """PDF text extraction end to end (readability_spark/pdftext.py): each
    document becomes a real one-page PDF (FlateDecode-compressed for odd
    doc_ids), parsed back by the pure-Python content-stream extractor in a
    vectorized mapInArrow pass.  Round-trip equality with the source text
    is the oracle."""
    from readability_spark.spark.pdf import extract_pdf_pages, synthesize_pdfs

    return extract_pdf_pages(synthesize_pdfs(_docs(spark, sf_dir))).select(
        "doc_id", "pdf_text", "pdf_chars", "status"
    )


# ---------------------------------------------------------------- streaming


@_q(
    "stream_extract_meta",
    f"""
    SELECT {_SQL_URL} AS url,
           'Daily Report Number ' || doc_id || ' Edition' AS title,
           'Reporter ' || (doc_id % 20) AS byline,
           'ExampleSite' AS site_name,
           'ok' AS status
    FROM documents
    """,
)
def stream_extract_meta(spark, sf_dir):
    """Structured Streaming ingestion (readability_spark/streaming): the
    pages table lands as a file stream, the same vectorized extraction runs
    on the unbounded DataFrame (Trigger.AvailableNow, checkpointed parquet
    sink), and the drained output must match the batch oracle exactly —
    streaming and batch are the same engine."""
    from readability_spark.streaming import stream_extract_to_parquet

    base = _fresh_dir("stream", sf_dir, "extract")
    read_pages(spark, sf_dir).write.mode("overwrite").parquet(str(base / "input"))
    out = stream_extract_to_parquet(
        spark, str(base / "input"), str(base / "output"), str(base / "checkpoint")
    )
    return out.select("url", "title", "byline", "site_name", "status")


# ----------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over sf0.001 pages."""
    return extract_articles(read_pages(spark, "/root/testdata/sf0.001")).select(
        "url", "title", "byline", "site_name", "published_time", "lang", "dir",
        "excerpt", "text_content", "length", "status", "error",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_Q)


def oracle_sql() -> dict[str, str]:
    return dict(_O)
