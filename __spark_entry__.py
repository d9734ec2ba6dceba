"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over sf0.001.
``queries()`` exposes the implemented operators (SURVEY.md section 2) as
(spark, sf_dir) -> DataFrame callables; ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible one.

The extraction queries are genuinely end-to-end: pages are synthesized
deterministically from the ``documents`` table
(readability_spark/spark/pages.py), the full 16-stage DOM pipeline runs in
a vectorized mapInPandas pass, and the DuckDB oracle recomputes the
expected Article fields in closed form — so a value-hash match certifies
byte-identical extracted text per url (the north_rule invariant).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from readability_spark.spark.job import extract_articles, with_partition_id
from readability_spark.spark.pages import read_pages
from readability_spark.spark import textops

# English/French/German/Spanish stopword markers for the LIKE-based language
# heuristic (identical semantics in Spark SQL and DuckDB).
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


#: hex digit -> value lookup string for portable md5-prefix bucketing
#: (shared by the cms_token_counts, quality_classifier_hashed and
#: dsir_importance oracles)
_DSIR_HEX = "0123456789abcdef"


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
    """The skewed-domain histogram the salting strategy is sized from
    (cheap groupBy sample, SURVEY.md section 7.4)."""
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


# ------------------------------------------------------------ dedup family


@_q(
    "url_dedup_normalized",
    """
    WITH raw AS (
      SELECT doc_id,
             'https://' || (CASE WHEN (doc_id - doc_id % 3) % 10 < 4
                            THEN 'Hot' ELSE 'www' END)
             || '.Example.com/articles/doc-'
             || lpad(CAST(doc_id - doc_id % 3 AS varchar), 6, '0') || '.html'
             || (CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed&utm_medium=rss'
                 WHEN 1 THEN '#section-2' ELSE '/' END) AS url
      FROM documents
    ),
    norm AS (
      SELECT url,
             regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/+$', '')
               AS norm_url
      FROM raw
    )
    SELECT norm_url,
           min(url) AS canonical_url,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM norm GROUP BY norm_url
    """,
)
def url_dedup_normalized(spark, sf_dir):
    """URL canonicalization dedup (crawl-frontier hygiene for a training
    corpus): lowercase, strip query/fragment (tracker params), strip
    trailing slashes, then hash-groupBy the normalized url.  The synthetic
    variants (utm query, fragment, trailing slash over a shared base per
    doc triple) guarantee real duplicate groups; built-ins only, one
    shuffle on the normalized key — at crawl scale this is the same
    map-side-combined groupBy as exact dedup."""
    base_id = F.col("doc_id") - F.col("doc_id") % 3
    url = F.concat(
        F.lit("https://"),
        F.when(base_id % 10 < 4, F.lit("Hot")).otherwise(F.lit("www")),
        F.lit(".Example.com/articles/doc-"),
        F.lpad(base_id.cast("string"), 6, "0"),
        F.lit(".html"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&utm_medium=rss"))
        .when(F.col("doc_id") % 3 == 1, F.lit("#section-2"))
        .otherwise(F.lit("/")),
    )
    raw = _docs(spark, sf_dir).select(url.alias("url"))
    norm = raw.select(
        "url",
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("url")), r"[?#].*$", ""), r"/+$", ""
        ).alias("norm_url"),
    )
    return norm.groupBy("norm_url").agg(
        F.min("url").alias("canonical_url"),
        F.count(F.lit(1)).cast("long").alias("dup_count"),
    )


@_q(
    "decontam_ngram_overlap",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3]))
               AS gram
      FROM t WHERE len(arr) >= 4
    ),
    bench AS (SELECT DISTINCT md5(gram) AS h FROM g
              WHERE doc_id % 23 = 0 AND doc_id < 500),
    cand  AS (SELECT DISTINCT doc_id, md5(gram) AS h FROM g WHERE doc_id % 23 != 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS overlap_ngrams
    FROM cand JOIN bench USING (h)
    GROUP BY doc_id
    """,
)
def decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination for a training corpus: word-4-gram
    exact-overlap check of every candidate document against a benchmark set
    (stand-in: the doc_id % 23 == 0 slice, CAPPED at doc_id < 500 — a real
    decontamination list is a fixed artifact like MMLU/GSM8K, not a corpus
    fraction, and the cap is what makes the broadcast legitimate at any
    corpus scale).  N-grams are hashed and the fixed-size benchmark hash
    set is broadcast, so the check is a map-only probe plus one
    map-side-combined groupBy; the corpus itself is never shuffled."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(arr, i),
            F.element_at(arr, i + 1),
            F.element_at(arr, i + 2),
            F.element_at(arr, i + 3),
        ),
    )

    def ngrams(df):
        return (
            df.filter(F.size(arr) >= 4)
            .select("doc_id", F.explode(grams).alias("gram"))
            .select("doc_id", F.md5(F.col("gram")).alias("h"))
            .distinct()
        )

    bench = (
        ngrams(docs.filter((F.col("doc_id") % 23 == 0) & (F.col("doc_id") < 500)))
        .select("h")
        .distinct()
    )
    cand = ngrams(docs.filter(F.col("doc_id") % 23 != 0))
    return (
        cand.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap_ngrams"))
    )


#: count-min sketch geometry: 4 hash lanes x 1024 buckets (md5-seeded per
#: lane, so the construction is deterministic and replayable in DuckDB)
_CMS_D = 4
_CMS_W = 1024


def _sql_cms_bucket(j_expr, tok_expr):
    """DuckDB bucket twin: first 3 md5 hex chars -> int -> % _CMS_W."""
    h = f"md5(CAST({j_expr} AS VARCHAR) || ':' || {tok_expr})"
    hx = lambda i: f"(strpos('{_DSIR_HEX}', substr({h}, {i}, 1)) - 1)"  # noqa: E731
    return f"((({hx(1)} * 16 + {hx(2)}) * 16 + {hx(3)}) % {_CMS_W})"


@_q(
    "cms_token_counts",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE trim(text) != ''
    ),
    lanes AS (SELECT r.j, token FROM tok, range({_CMS_D}) r(j)),
    cells AS (
      SELECT j, {_sql_cms_bucket("j", "token")} AS b, count(*) AS c
      FROM lanes GROUP BY 1, 2
    ),
    probe AS (
      SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE doc_id < 10 AND trim(text) != ''
    ),
    est AS (
      SELECT p.token, min(c.c) AS est_count
      FROM probe p JOIN cells c ON c.b = {_sql_cms_bucket("c.j", "p.token")}
      GROUP BY p.token
    ),
    truth AS (
      SELECT t.token, count(*) AS true_count
      FROM tok t JOIN probe USING (token) GROUP BY t.token
    )
    SELECT token,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(true_count AS BIGINT) AS true_count,
           CAST(est_count - true_count AS BIGINT) AS overcount
    FROM est JOIN truth USING (token)
    """,
)
def cms_token_counts(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream — the approximate-counting companion to the Bloom
    membership filter: when a pipeline needs token/feature frequencies
    only to THRESHOLD on them (stopword guards, df caps, heavy-hitter
    detection), the vocabulary-sized exact aggregate can be replaced by a
    fixed 4x1024-cell sketch.  Estimates are served MAP-SIDE
    from the inlined sketch (min over the 4 lanes' cells — never
    an undercount, overcounts bounded by collisions); the demo probes the
    distinct tokens of doc_id < 10 and emits est vs true vs overcount so
    the CMS guarantee is visible — and the whole construction is
    deterministic (md5-seeded lanes), so the DuckDB oracle replays the
    sketch cell-for-cell.

    Scale: the sketch build is ONE map-side-combined groupBy whose output
    is capped at 4*1024 rows regardless of corpus size (the
    bounded-output shape bloom_bitmap uses; the lane explode is narrow);
    the truth branch exists only for the demo comparison and touches just
    probe-matching tokens (broadcast semi-probe).  At 10^12 documents the
    sketch replaces a vocabulary-sized shuffle with a 4096-row one."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tok = docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))

    def bucket(j, t):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), t)), 1, 3), 16, 10
            ).cast("int"),
            F.lit(_CMS_W),
        )

    lanes = F.array(
        *[
            F.struct(F.lit(j).alias("j"), bucket(j, F.col("token")).alias("b"))
            for j in range(_CMS_D)
        ]
    )
    cells = (
        tok.select(F.explode(lanes).alias("s"))
        .groupBy("s.j", "s.b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    sketch = [0] * (_CMS_D * _CMS_W)
    for r in cells:
        sketch[r.j * _CMS_W + r.b] = r.c
    slit = F.lit(sketch)
    probe = (
        docs.filter(F.col("doc_id") < 10)
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
        .distinct()
    )
    est = probe.select(
        "token",
        F.least(
            *[
                F.element_at(slit, F.lit(j * _CMS_W + 1) + bucket(j, F.col("token")))
                for j in range(_CMS_D)
            ]
        )
        .cast("long")
        .alias("est_count"),
    )
    truth = (
        tok.join(F.broadcast(probe), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    return est.join(truth, "token").select(
        "token",
        "est_count",
        "true_count",
        (F.col("est_count") - F.col("true_count")).cast("long").alias("overcount"),
    )


#: HyperLogLog geometry: 64 registers addressed by the first two md5 hex
#: chars (mod 64); rho comes from the next 15 hex chars (60 bits).  2^61
#: is the exact scaling that turns every 2^-rho term into an integer.
_HLL_M = 64
_HLL_POW61 = 1 << 61
#: alpha_64 from Flajolet et al. 2007 Fig. 3; numerator of the raw
#: estimator alpha*m^2*2^61, precomputed in Python so BOTH engines divide
#: the identical double literal by the identical integer-derived D
_HLL_NUM = 0.709 * _HLL_M * _HLL_M * float(_HLL_POW61)

#: DuckDB rho twin: leading-zero count of the 60-bit tail, hex-digit-wise
#: (4 bits per leading '0' char + a 4-entry CASE on the first non-zero
#: nibble) so no float log enters the register construction
_SQL_HLL_RHO = f"""
      CASE WHEN length(stripped) = 0 THEN 61
           ELSE (15 - length(stripped)) * 4
                + (CASE WHEN dv >= 8 THEN 0 WHEN dv >= 4 THEN 1
                        WHEN dv >= 2 THEN 2 ELSE 3 END) + 1 END
"""


@_q(
    "hll_distinct_texts",
    f"""
    WITH h AS (
      SELECT source, md5(text) AS hh FROM documents
    ),
    rr AS (
      SELECT source,
             ((strpos('{_DSIR_HEX}', substr(hh, 1, 1)) - 1) * 16
              + (strpos('{_DSIR_HEX}', substr(hh, 2, 1)) - 1)) % {_HLL_M} AS register,
             {_SQL_HLL_RHO} AS rho
      FROM (
        SELECT source, hh,
               regexp_replace(substr(hh, 3, 15), '^0+', '') AS stripped,
               strpos('{_DSIR_HEX}', substr(regexp_replace(substr(hh, 3, 15), '^0+', ''), 1, 1)) - 1 AS dv
        FROM h
      )
    ),
    base AS (SELECT source, register, max(rho) AS r FROM rr GROUP BY 1, 2),
    regs AS (
      SELECT * FROM base
      UNION ALL
      SELECT 'ALL' AS source, register, max(r) AS r FROM base GROUP BY 2
    ),
    summ AS (
      SELECT source, count(*) AS used,
             sum(CAST((CAST(1 AS BIGINT) << (61 - r)) AS HUGEINT)) AS dp
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT source, used,
             {_HLL_NUM!r} / CAST(dp + CAST({_HLL_M} - used AS HUGEINT)
                                      * CAST({_HLL_POW61} AS HUGEINT) AS DOUBLE) AS raw
      FROM summ
    ),
    truth AS (
      SELECT source, count(DISTINCT text) AS true_distinct FROM documents GROUP BY 1
      UNION ALL
      SELECT 'ALL' AS source, count(DISTINCT text) AS true_distinct FROM documents
    )
    SELECT e.source,
           CAST(used AS BIGINT) AS used_registers,
           CAST(round(CASE WHEN raw <= {2.5 * _HLL_M!r} AND used < {_HLL_M}
                           THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / ({_HLL_M} - used))
                           ELSE raw END) AS BIGINT) AS est_distinct,
           CAST(true_distinct AS BIGINT) AS true_distinct
    FROM est e JOIN truth t ON e.source = t.source
    """,
)
def hll_distinct_texts(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) over
    document content hashes — the cardinality member of the sketch trio
    (Bloom = membership, count-min = frequency, HLL = distinct count):
    "how many unique documents does this crawl hold" answered from
    64 bytes per shard instead of a corpus-wide distinct.

    Spark ships this as `approx_count_distinct` (HLL++, the production
    call); this query builds the classic construction EXPLICITLY and
    deterministically (registers from md5 bits, rho = leading-zero count
    of a 60-bit tail computed hex-digit-wise with no float log) so the
    DuckDB oracle replays it register-for-register, and so the MERGE step
    is visible: per-source partial sketches combine by register-wise MAX
    — the associative union that lets 10^12 documents be sketched shard
    by shard, stored as 64 small integers each, and unioned later
    without touching the data again.  Output: per-source rows AND the
    merged 'ALL' row, est vs true (small sources sit on the
    linear-counting branch, the merged row on the raw-estimator branch,
    so both published corrections are exercised).

    Scale: ONE map-side-combined groupBy over (source, register) whose
    output is <= n_sources x 64 rows regardless of corpus size;
    everything downstream (merge, estimate, demo truth join) runs on
    those few rows.  The truth branch exists only for the demo
    comparison."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("text"))
    reg = F.pmod(F.conv(F.substring(h, 1, 2), 16, 10).cast("int"), F.lit(_HLL_M))
    stripped = F.regexp_replace(F.substring(h, 3, 15), "^0+", "")
    dv = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    lz = F.when(dv >= 8, 0).when(dv >= 4, 1).when(dv >= 2, 2).otherwise(3)
    rho = F.when(F.length(stripped) == 0, F.lit(61)).otherwise(
        (F.lit(15) - F.length(stripped)) * 4 + lz + 1
    )
    base = (
        docs.select("source", reg.alias("register"), rho.alias("rho"))
        .groupBy("source", "register")
        .agg(F.max("rho").alias("r"))
    )
    merged = (
        base.groupBy("register")
        .agg(F.max("r").alias("r"))
        .select(F.lit("ALL").alias("source"), "register", "r")
    )
    regs = base.unionByName(merged)
    summ = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - r) AS DECIMAL(38,0))")
        ).alias("dp"),
    )
    d_total = (
        F.col("dp")
        + (F.lit(_HLL_M) - F.col("used")).cast("decimal(38,0)")
        * F.lit(_HLL_POW61).cast("decimal(38,0)")
    ).cast("double")
    raw = F.lit(_HLL_NUM) / d_total
    linear = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("used"))
    )
    est = summ.select(
        "source",
        F.col("used").cast("long").alias("used_registers"),
        F.round(
            F.when((raw <= F.lit(2.5 * _HLL_M)) & (F.col("used") < _HLL_M), linear)
            .otherwise(raw)
        )
        .cast("long")
        .alias("est_distinct"),
    )
    truth = (
        docs.groupBy("source")
        .agg(F.countDistinct("text").cast("long").alias("true_distinct"))
        .unionByName(
            docs.agg(F.countDistinct("text").cast("long").alias("true_distinct"))
            .select(F.lit("ALL").alias("source"), "true_distinct")
        )
    )
    return est.join(truth, "source").select(
        "source", "used_registers", "est_distinct", "true_distinct"
    )


#: histogram-sketch geometry: fixed-width bins over the score domain.
#: Width 8 over n_chars (observed range ~[44, 577]) keeps the sketch well
#: under _HQ_BINS rows while giving sub-2% relative error at the median.
_HQ_W = 8
#: the quantile gates a curation pipeline actually asks for: median,
#: the p90 long-tail threshold, and the p99 outlier cutoff
_HQ_QS = (0.5, 0.9, 0.99)


@_q(
    "histogram_quantiles",
    f"""
    WITH d AS (SELECT n_chars AS s FROM documents),
    n AS (SELECT count(*) AS n FROM d),
    hist AS (
      SELECT CAST(floor(s / {_HQ_W}) AS BIGINT) AS b, count(*) AS c
      FROM d GROUP BY 1
    ),
    cum AS (SELECT b, c, sum(c) OVER (ORDER BY b) AS cum FROM hist),
    tgt AS (
      SELECT q, CAST(ceil(q * n) AS BIGINT) AS k, n
      FROM (SELECT CAST(unnest([{', '.join(repr(q) for q in _HQ_QS)}]) AS DOUBLE) AS q), n
    ),
    pick AS (
      SELECT t.q, t.k, t.n, min(c.b) AS b
      FROM tgt t JOIN cum c ON c.cum >= t.k GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT p.q, p.k, p.n,
             p.b * {_HQ_W}.0
             + (p.k - (c.cum - c.c)) * {_HQ_W}.0 / c.c AS est_value
      FROM pick p JOIN cum c ON c.b = p.b
    ),
    exact_cum AS (
      SELECT s, sum(c2) OVER (ORDER BY s) AS cum
      FROM (SELECT s, count(*) AS c2 FROM d GROUP BY 1)
    ),
    truth AS (
      SELECT t.q, min(e.s) AS true_value
      FROM tgt t JOIN exact_cum e ON e.cum >= t.k GROUP BY 1
    )
    SELECT e.q, e.est_value,
           CAST(t.true_value AS BIGINT) AS true_value,
           CAST(e.n AS BIGINT) AS n_docs
    FROM est e JOIN truth t ON e.q = t.q
    """,
)
def histogram_quantiles(spark, sf_dir):
    """Quantile thresholds from a fixed-width histogram sketch — how a
    curation pipeline computes its percentile gates ("drop the bottom 10%
    by quality score", "cap at p99 length") at 10^12 documents: an exact
    percentile needs a global sort of the corpus, but a histogram is ONE
    map-side-combined groupBy whose output is bounded by the bin count,
    is mergeable across shards by plain count addition, and yields any
    quantile by cumulative-sum + within-bin linear interpolation with
    error <= one bin width.  (Spark also ships `percentile_approx` —
    KLL-sketch-shaped, the black-box production call; this builds the
    transparent construction so the DuckDB oracle replays it bin-for-bin,
    and emits est vs the exact rank-based value so the error bound is
    visible.)

    Everything after the corpus-sized histogram aggregate runs on <=128
    rows (the cumulative window's single-partition stage holds bin rows,
    not documents); the truth branch exists only for the demo comparison
    and is itself a bounded groupBy over distinct scores.  The
    interpolation arithmetic is written with the identical operand order
    on both engines, so the doubles hash-match bit-for-bit."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(F.col("n_chars").alias("s"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    hist = (
        docs.groupBy(F.floor(F.col("s") / _HQ_W).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("b", "c", F.sum("c").over(w_b).alias("cum"))
    qs = spark.createDataFrame([(q,) for q in _HQ_QS], "q double")
    tgt = qs.crossJoin(n).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("long").alias("k"), "n"
    )
    pick = (
        tgt.join(cum, cum["cum"] >= tgt["k"])
        .groupBy("q", "k", "n")
        .agg(F.min("b").alias("b"))
    )
    est = pick.join(cum, "b").select(
        "q",
        (
            F.col("b") * float(_HQ_W)
            + (F.col("k") - (F.col("cum") - F.col("c"))) * float(_HQ_W) / F.col("c")
        ).alias("est_value"),
        "k",
        "n",
    )
    exact_cum = (
        docs.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c2"))
        .select("s", F.sum("c2").over(Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"))
    )
    truth = (
        tgt.join(exact_cum, exact_cum["cum"] >= tgt["k"])
        .groupBy("q")
        .agg(F.min("s").cast("long").alias("true_value"))
    )
    return est.join(truth, "q").select(
        "q", "est_value", "true_value", F.col("n").cast("long").alias("n_docs")
    )


#: keywords kept per document
_TFIDF_K = 5
#: fixed-point scale for the tf-idf score: ranking on round(score * 2^20)
#: instead of the raw double removes any chance that a last-ulp libm
#: difference between the JVM's Math.log and DuckDB's ln reorders two
#: near-tied keywords (a 1-ulp input wiggle moves the scaled value by
#: ~1e-9, nowhere near a rounding boundary)
_TFIDF_FP = 1 << 20


@_q(
    "tf_idf_keywords",
    f"""
    WITH d AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE trim(text) != ''
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM d),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM d GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM d GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST(round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0)
                        * {float(_TFIDF_FP)!r}) AS BIGINT) AS score_fp
      FROM tf JOIN df USING (token), n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_fp DESC, token ASC) AS rank
      FROM scored
    )
    SELECT doc_id, rank, token,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_fp
    FROM ranked WHERE rank <= {_TFIDF_K}
    """,
)
def tf_idf_keywords(spark, sf_dir):
    """TF-IDF keyword extraction — top-5 most characteristic
    tokens per document (smoothed idf = ln((N+1)/(df+1)) + 1, the
    sklearn convention), the classic lexical-signature operator behind
    keyword tagging, topic bucketing and cheap doc-similarity features in
    a curation pipeline.

    Plan at scale: term frequencies are ONE map-combinable
    groupBy(doc_id, token); document frequencies reuse the same exploded
    stream with a two-phase distinct-count per token (vocabulary-sized
    output, orders of magnitude smaller than the corpus); the idf join is
    against that vocabulary-sized dim (AQE broadcasts it at small scale;
    at 10^12 docs it is a sort-merge on token, which is the correct shape
    because both sides are already token-keyed); top-k per doc is a
    row_number window over doc_id.  Ranking happens on a FIXED-POINT
    score (round(score * 2^20) as BIGINT, token as tiebreak) so the
    selected rows cannot depend on last-ulp libm differences between
    engines — the emitted score is that same integer, hash-stable by
    construction."""
    from pyspark.sql import Window

    d = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
    )
    n = d.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    tf = d.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = d.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df, "token")
        .crossJoin(n)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
                * float(_TFIDF_FP)
            )
            .cast("long")
            .alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select(
            "doc_id",
            "rank",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score_fp",
        )
    )


def _sql_hex_bigint(expr, n):
    """DuckDB horner expansion: first n hex chars of `expr` -> BIGINT."""
    out = "CAST(0 AS BIGINT)"
    for i in range(1, n + 1):
        out = (
            f"({out} * 16 + (strpos('{_DSIR_HEX}', substr({expr}, {i}, 1)) - 1))"
        )
    return out


#: temperature for the mix: alpha=0.5 (sqrt flattening, the XLM-R /
#: multilingual-LM convention) — rare languages are upsampled relative
#: to their corpus share, dominant ones downsampled
_TMS_ALPHA_SQRT = True
#: sampling budget as a fraction of the corpus
_TMS_BUDGET = 0.5
#: 2^52 — the 13-hex-char hash domain, exact as a double
_TMS_DOM = float(1 << 52)


@_q(
    "temperature_mix_sample",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    s AS (
      SELECT sum(sqrt(CAST(n AS DOUBLE))) AS sumw,
             sum(n) AS total
      FROM c
    ),
    r AS (
      SELECT lang, n,
             least(1.0, ({_TMS_BUDGET!r} * total)
                        * (sqrt(CAST(n AS DOUBLE)) / sumw) / n) AS rate
      FROM c, s
    ),
    u AS (
      SELECT doc_id, lang,
             {_sql_hex_bigint("md5(CAST(doc_id AS VARCHAR))", 13)} AS h
      FROM documents
    )
    SELECT u.doc_id, u.lang,
           CAST(r.n AS BIGINT) AS n_lang,
           round(r.rate, 6) AS rate
    FROM u JOIN r ON u.lang = r.lang
    WHERE CAST(u.h AS DOUBLE) / {_TMS_DOM!r} < r.rate
    """,
)
def temperature_mix_sample(spark, sf_dir):
    """Temperature-based data-mix sampling (alpha = 0.5) — the
    multilingual/domain rebalancing operator from XLM-R / mT5-style
    training mixes: sampling weights proportional to count^alpha flatten
    the corpus distribution, upsampling rare languages and downsampling
    dominant ones, scaled to a fixed budget (here half the corpus).
    Unlike `sample_stratified` (fixed per-stratum rates), the rates here
    are DERIVED FROM THE DATA in a first aggregate pass, then applied as
    a pure map-side deterministic filter (md5(doc_id) 52-bit uniform vs
    the per-language rate — no rand(), reproducible across engines,
    runs and retries).

    Plan at scale: pass 1 is a language-cardinality groupBy (bounded
    output); the rate table is a tiny dim the filter pass broadcast-joins
    (AQE does this unprompted), so the corpus itself is touched exactly
    twice, both map-side — the same two-scan shape any data-mixing job
    has.  Float caveat, documented: sqrt is IEEE-exact on both engines
    but the 5-term weight sum's addition order is engine-internal; a
    last-ulp divergence could flip a document whose 52-bit hash sits
    exactly at the rate boundary (probability ~2^-40 per corpus) —
    accepted, as with the libm notes on the sketch operators."""
    docs = _docs(spark, sf_dir)
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("sumw"),
        F.sum("n").alias("total"),
    )
    r = c.crossJoin(s).select(
        "lang",
        "n",
        F.least(
            F.lit(1.0),
            (F.lit(_TMS_BUDGET) * F.col("total"))
            * (F.sqrt(F.col("n").cast("double")) / F.col("sumw"))
            / F.col("n"),
        ).alias("rate"),
    )
    u = docs.select(
        "doc_id",
        "lang",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
        )
        .cast("long")
        .alias("h"),
    )
    return (
        u.join(r, "lang")
        .filter(F.col("h").cast("double") / _TMS_DOM < F.col("rate"))
        .select(
            "doc_id",
            "lang",
            F.col("n").cast("long").alias("n_lang"),
            F.round(F.col("rate"), 6).alias("rate"),
        )
    )


#: the demo query, BM25 parameters (Robertson k1/b defaults), result size
_BM25_QUERY = ("hash", "join", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


#: bm25_search oracle, as a variable so hybrid_search_rrf can embed it
_BM25_SQL = f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM d)
      WHERE term IN ({', '.join(f"'{t}'" for t in _BM25_QUERY)})
      GROUP BY 1, 2
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    term_scores AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1!r} + 1.0))
               / (tf.tf + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
                                          + {_BM25_B!r} * dl.dl / s.avgdl))
               * {float(_TFIDF_FP)!r}) AS BIGINT) AS term_fp
      FROM tf
      JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats s
    )
    SELECT doc_id,
           CAST(sum(term_fp) AS BIGINT) AS score_fp,
           CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM term_scores
    GROUP BY doc_id
    ORDER BY score_fp DESC, doc_id ASC
    LIMIT {_BM25_TOPK}
    """


@_q("bm25_search", _BM25_SQL)
def bm25_search(spark, sf_dir):
    """BM25 lexical retrieval — top-10 documents for a fixed
    3-term query (Robertson/Lucene BM25: positive
    smoothed idf, k1=1.2, b=0.75 length normalization).  The
    lexical counterpart to the embedding retrieval family (`topk_cosine`
    brute force, `ann_ivf_topk`, `lsh_cosine_pairs`): together they are
    the hybrid-search pair a corpus-inspection workflow actually runs.

    Scale shape: the token stream is filtered to the query's terms
    MAP-SIDE before any aggregation (the explode feeds a literal IN — at
    10^12 docs only matching postings survive the scan stage), tf is one
    map-combinable groupBy, df/avgdl are bounded aggregates joined back
    by broadcast, and the global top-k is orderBy+limit — Spark compiles
    that to TakeOrderedAndProject (a per-partition heap + driver merge of
    10-row samples), NOT a corpus sort.  Determinism: each
    term's score is fixed-pointed (round(x*2^20) BIGINT) BEFORE the
    per-doc sum, so the final score is an order-independent integer sum
    — no float-accumulation-order hazard — and ties break on doc_id."""
    docs = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.split(F.trim(F.col("text")), " ").alias("toks"))
    )
    dl = docs.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_fp = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * float(_TFIDF_FP)
    )
    scored = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select("doc_id", F.round(term_fp).cast("long").alias("term_fp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_fp").cast("long").alias("score_fp"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep smallest doc_id."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@_q(
    "incremental_dedup_bloom",
    """
    WITH corpus AS (SELECT md5(text) AS text_hash FROM documents),
    increment AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN text
                  ELSE text || ' update run2' END AS text
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT doc_id, md5(text) AS text_hash
    FROM increment
    WHERE md5(text) NOT IN (SELECT text_hash FROM corpus)
    """,
)
def incremental_dedup_bloom(spark, sf_dir):
    """Incremental (cross-snapshot) dedup — the recurring production job:
    a NEW crawl increment arrives and only documents not already in the
    existing corpus may enter.  The increment is synthesized from the
    corpus itself (every doc_id%2==0 page "re-crawled"; %4==0 pages are
    byte-identical re-fetches that must dedup away, the rest changed and
    must pass), so the expected output is closed-form for the oracle.

    The at-scale shape is a Bloom-filter prefilter in front of the exact
    anti-join (the pattern behind Spark's own runtime row-group filters,
    which PySpark doesn't expose as a SQL function — textops.bloom_bitmap
    builds one from DataFrame built-ins): the corpus's content hashes fold
    into a fixed-size bitmap (ONE bounded-output aggregate over the corpus;
    shuffle volume = bitmap words, not rows), the increment tests
    membership MAP-SIDE against the inlined bitmap, bloom-negative rows
    are definitively new (no false negatives) and skip the join entirely,
    and only the bloom-positive sliver — true dups + ~FPP false positives
    — reaches the exact left-anti verify join.  At 10^12 corpus docs the
    anti-join's probe side shrinks from the full increment to roughly its
    duplicate fraction, and correctness never depends on the FPP: the
    result is exactly the anti-join's.

    The result (new-document set) is the union of bloom-negatives and
    verified positives — identical to a plain anti-join, which is the
    oracle."""
    from readability_spark.spark.textops import bloom_bitmap, bloom_might_contain

    docs = _docs(spark, sf_dir)
    corpus = docs.select(F.md5(F.col("text")).alias("text_hash"))
    bitmap, _ = bloom_bitmap(corpus, "text_hash", num_bits=1 << 16, num_hashes=4)
    increment = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 4 == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" update run2"))
            )
        ).alias("text_hash"),
    )
    flagged = increment.withColumn(
        "maybe_dup", bloom_might_contain(bitmap, F.col("text_hash"))
    )
    definitely_new = flagged.filter(~F.col("maybe_dup")).select("doc_id", "text_hash")
    verified_new = (
        flagged.filter(F.col("maybe_dup"))
        .select("doc_id", "text_hash")
        .join(corpus, "text_hash", "left_anti")
        .select("doc_id", "text_hash")
    )
    return definitely_new.unionByName(verified_new)


#: shared boilerplate appended to every document's paragraph list — the
#: realistic paragraph-dedup target (site chrome repeated across a crawl)
_PD_BOILER = "all rights reserved contact support"
_PD_K = 5  # words per synthesized paragraph

#: one definition of "the document's 5-word chunks", shared by
#: paragraph_dedup and dedup_clusters on BOTH engines so the two operators
#: (and their oracles) cannot drift apart on chunking
_SQL_CHUNKS = (
    f"list_transform(generate_series(0, CAST(ceil(len(arr)/{_PD_K}.0) AS INT) - 1),"
    f" i -> array_to_string(list_slice(arr, i*{_PD_K}+1, i*{_PD_K}+{_PD_K}), ' '))"
)


def _spark_chunks(arr):
    """Spark twin of _SQL_CHUNKS: array of 5-word chunk strings."""
    k = _PD_K
    return F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(arr) / float(k)).cast("int") - 1),
        lambda i: F.array_join(F.slice(arr, i * k + 1, k), " "),
    )


@_q(
    "paragraph_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, source, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    p AS (
      SELECT doc_id,
             list_concat(
               {_SQL_CHUNKS},
               ['{_PD_BOILER}', 'follow ' || source || ' for more stories']
             ) AS paras
      FROM d
    ),
    e AS (
      SELECT doc_id, CAST(u.i - 1 AS INT) AS para_idx, paras[u.i] AS para
      FROM p, unnest(generate_series(1, len(paras))) AS u(i)
    )
    SELECT doc_id, para_idx, md5(para) AS para_hash,
           row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) = 1
             AS keep,
           count(*) OVER (PARTITION BY md5(para)) AS dup_count
    FROM e
    """,
)
def paragraph_dedup(spark, sf_dir):
    """Paragraph-level dedup (Lee et al. 2022 / CCNet-style, public
    semantics): normalize -> hash paragraphs -> first occurrence by
    (doc_id, para_idx) wins, repeats are flagged for dropping.  Documents
    here carry no newlines, so paragraphs are synthesized deterministically
    as fixed 5-word chunks plus two injected boilerplate paragraphs (one
    corpus-wide, one per-source) — exactly the repeated-chrome shape the
    operator exists to kill.

    Scale: the chunking/explode is narrow (map-only); the ONLY exchange is
    the hash partition on para_hash that both window functions share
    (plan-checked, PLANS.md).  At 100 TB that is one shuffle of
    (doc_id, para_idx, hash) triples — the paragraph text itself never
    shuffles."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    paras = F.concat(
        _spark_chunks(arr),
        F.array(
            F.lit(_PD_BOILER),
            F.concat(F.lit("follow "), F.col("source"), F.lit(" for more stories")),
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(paras).alias("para_idx", "para")
    ).select("doc_id", "para_idx", F.md5(F.col("para")).alias("para_hash"))
    by_hash = Window.partitionBy("para_hash")
    order = by_hash.orderBy("doc_id", "para_idx")
    return exploded.select(
        "doc_id",
        "para_idx",
        "para_hash",
        (F.row_number().over(order) == 1).alias("keep"),
        F.count(F.lit(1)).over(by_hash).alias("dup_count"),
    )


#: document-frequency cap for the dedup-clustering edge-builder: chunk
#: hashes shared by more documents than this are boilerplate, not near-dup
#: signal, and are dropped before the self-join (k^2-edge skew guard)
_DC_MAX_DF = 64


def _dedup_cluster_edges(spark, sf_dir):
    """Edge stage of dedup_clusters, exposed for the physical-plan gate:
    chunk-hash fingerprints -> df-capped hash-equality self-join
    (textops.fingerprint_edges, max_df=_DC_MAX_DF=64)."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    hs = F.transform(_spark_chunks(arr), lambda c: F.md5(c))
    cd = docs.select("doc_id", F.explode(hs).alias("h")).distinct()
    from readability_spark.spark.textops import fingerprint_edges

    return fingerprint_edges(cd, max_df=_DC_MAX_DF)


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    chunks AS (
      SELECT doc_id, u.h FROM (
        SELECT doc_id, list_transform({_SQL_CHUNKS}, c -> md5(c)) AS hs
        FROM d
      ), unnest(hs) AS u(h)
    ),
    cd0 AS (SELECT DISTINCT doc_id, h FROM chunks),
    hot AS (
      SELECT h FROM cd0 GROUP BY h HAVING count(*) > {_DC_MAX_DF}
    ),
    cd AS (SELECT doc_id, h FROM cd0 WHERE h NOT IN (SELECT h FROM hot)),
    raw_edges AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM cd a JOIN cd b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT a, b FROM raw_edges UNION ALL SELECT b, a FROM raw_edges),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS label FROM nodes
      UNION
      SELECT e.b AS doc_id, r.label FROM reach r JOIN edges e ON e.a = r.doc_id
    )
    SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Dedup clustering — the step every near-dup pipeline ends with:
    candidate pairs (here: documents sharing any 5-word-chunk fingerprint,
    a winnowing-style collision graph) grouped into connected components,
    cluster_id = min doc_id in the component (the canonical document).

    The component step is a genuinely iterative Spark algorithm
    (textops.connected_components: min-label propagation, one shuffle per
    round, localCheckpoint lineage truncation, driver-side scalar
    convergence check) — rounds = graph diameter, tiny for near-dup
    graphs.  The DuckDB oracle recomputes the same components with a
    recursive CTE, so the hash match certifies the iterative Spark path
    against a closed-form transitive closure.

    Scale guard: the edge-builder is textops.fingerprint_edges with a
    document-frequency cap (max_df=_DC_MAX_DF=64, mirrored in the oracle's
    `hot` CTE) — a chunk hash shared by k documents would otherwise emit
    k^2/2 edges, and real web corpora always have one boilerplate chunk in
    10^6 pages.  Hashes above the cap are boilerplate chrome, not near-dup
    signal; dropping them bounds the edge list at O(rows * max_df) AND
    stops spurious mega-clusters.  Plan-checked (PLANS.md
    §dedup_cluster_edges_df_guard: LeftAnti guard present, equi hash join,
    no nested-loop/cartesian)."""
    from readability_spark.spark.textops import connected_components

    return connected_components(_dedup_cluster_edges(spark, sf_dir))


#: deterministic per-source boilerplate footer — the cross-document repeated
#: span the operator exists to find (word-soup 10-grams rarely collide
#: organically, so without it the result would be degenerate-empty)
_SPAN_FOOTER_SQL = (
    "' copyright notice all material of ' || source ||"
    "' syndication network may not be reproduced without permission'"
)


def _span_footer_arr():
    """Spark twin of the _SPAN_FOOTER_SQL token array: trim(text) plus the
    per-source boilerplate footer, split on spaces — ONE definition shared
    by repeated_ngram_spans / _winnowed / repeated_span_scrub so the three
    operators (and their oracles) cannot drift apart on tokenization."""
    return F.split(
        F.concat(
            F.trim(F.col("text")),
            F.lit(" copyright notice all material of "),
            F.col("source"),
            F.lit(" syndication network may not be reproduced without permission"),
        ),
        " ",
    )


@_q(
    "repeated_ngram_spans",
    f"""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(text) || {_SPAN_FOOTER_SQL}, ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    g AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_pos,
             md5(array_to_string(list_slice(arr, u.i, u.i + 9), ' ')) AS gram_hash
      FROM d, unnest(generate_series(1, len(arr) - 9)) AS u(i)
    ),
    rep AS (
      SELECT gram_hash, count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY gram_hash HAVING count(DISTINCT doc_id) > 1
    )
    SELECT g.doc_id, g.start_pos, g.gram_hash, CAST(rep.n_docs AS BIGINT) AS n_docs
    FROM g JOIN rep USING (gram_hash)
    """,
)
def repeated_ngram_spans(spark, sf_dir):
    """Substring-granularity cross-document dedup (the exact-substring mode
    of Lee et al. 2022, at 10-gram resolution): every word position whose
    10-gram occurs in MORE THAN ONE document is emitted as
    (doc_id, start_pos, gram_hash, n_docs) — the span map a dedup pass
    uses to cut repeated passages out of otherwise-unique documents,
    finer-grained than paragraph_dedup's fixed chunks.  Input carries a
    deterministic per-source boilerplate footer so the detector has real
    repeated spans to find.

    Scale: one explode (narrow); the repeated-set aggregation shuffles
    only (gram_hash, doc_id) pairs — TWO exchanges, because countDistinct
    is a two-phase aggregate (partial distinct on (hash, doc) then final
    count per hash); the join back broadcasts the small repeated-hash
    side (AQE-verified, plan-gated in PLANS.md
    §repeated_ngram_spans_broadcast_joinback), so the corpus-sized gram
    stream itself never shuffles — it is recomputed for the probe side
    rather than cached, the right tradeoff for a narrow explode.  The
    10^12-doc variant samples gram positions (winnowing,
    textops.winnow_fingerprints) before the aggregation."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = _span_footer_arr()
    # guard: F.sequence(1, n) with n < 1 yields a DESCENDING sequence in
    # Spark (DuckDB's generate_series is empty), feeding invalid slice
    # starts — docs with fewer than 10 tokens have no 10-grams by
    # definition, so drop them structurally rather than relying on the
    # injected footer keeping every doc >= 15 tokens
    grams = docs.filter(F.size(arr) >= 10).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 9),
                lambda i: F.struct(
                    i.cast("int").alias("start_pos"),
                    F.md5(F.array_join(F.slice(arr, i, 10), " ")).alias("gram_hash"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.start_pos", "g.gram_hash")
    rep = (
        grams.groupBy("gram_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    return grams.join(rep, "gram_hash").select(
        "doc_id", "start_pos", "gram_hash", "n_docs"
    )


@_q(
    "repeated_ngram_spans_winnowed",
    f"""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(text) || {_SPAN_FOOTER_SQL}, ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    dg AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(arr) - 9),
               i -> md5(array_to_string(list_slice(arr, i, i + 9), ' '))) AS g
      FROM d WHERE len(arr) >= 13
    ),
    dm AS (
      SELECT doc_id, g,
             list_transform(generate_series(1, len(g) - 3),
               j -> list_min(list_slice(g, j, j + 3))) AS m
      FROM dg
    ),
    sel AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_pos, g[u.i] AS gram_hash
      FROM dm, unnest(generate_series(1, len(g))) AS u(i)
      WHERE list_max(list_slice(m, greatest(1, u.i - 3), least(u.i, len(m))))
              = g[u.i]
    ),
    rep AS (
      SELECT gram_hash, count(DISTINCT doc_id) AS n_docs
      FROM sel GROUP BY gram_hash HAVING count(DISTINCT doc_id) > 1
    )
    SELECT sel.doc_id, sel.start_pos, sel.gram_hash,
           CAST(rep.n_docs AS BIGINT) AS n_docs
    FROM sel JOIN rep USING (gram_hash)
    """,
)
def repeated_ngram_spans_winnowed(spark, sf_dir):
    """The 10^12-document form of exact-substring dedup: winnowing-sampled
    gram positions (Schleimer/Wilkerson/Aiken, w=4 windows over the 10-gram
    hash stream) BEFORE the cross-document aggregation, cutting the
    shuffled gram volume to ~2/(w+1) of repeated_ngram_spans' while
    guaranteeing any repeated span of >= 10+4-1 = 13 words still shares a
    sampled fingerprint.  Position i is selected iff some w-window's
    minimum equals g[i]; since every window containing i has min <= g[i],
    that is equivalent to max(window minima covering i) == g[i] — a pure
    array expression, identical on both engines (ties select every
    position carrying the tied hash, i.e. identical gram text — harmless
    and portable).  Output schema matches repeated_ngram_spans; positions
    are the sampled subset.

    Scale: the gram/minima arrays are per-row map-side expressions
    (materialized columns so Catalyst doesn't recompute the md5 array per
    lambda — same CSE trap winnow_fingerprints documents); only sampled
    (doc_id, start_pos, hash) triples ever explode, and only hash+doc
    pairs shuffle for the two-phase countDistinct; the join-back
    broadcasts the repeated-hash set like repeated_ngram_spans."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = _span_footer_arr()
    k, w = 10, 4
    grams = F.transform(
        F.sequence(F.lit(1), F.size(arr) - (k - 1)),
        lambda i: F.md5(F.array_join(F.slice(arr, i, k), " ")),
    )
    wg = docs.filter(F.size(arr) >= k + w - 1).select("doc_id", grams.alias("g"))
    g = F.col("g")
    minima = F.transform(
        F.sequence(F.lit(1), F.size(g) - (w - 1)),
        lambda j: F.array_min(F.slice(g, j, w)),
    )
    wm = wg.select("doc_id", "g", minima.alias("m"))
    m = F.col("m")
    lo = lambda i: F.greatest(F.lit(1), i - (w - 1))  # noqa: E731
    hi = lambda i: F.least(i, F.size(m))  # noqa: E731
    sel = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(g)),
            lambda i: F.struct(
                i.cast("int").alias("start_pos"),
                F.element_at(g, i).alias("gram_hash"),
            ),
        ),
        lambda s: F.array_max(
            F.slice(m, lo(s["start_pos"]), hi(s["start_pos"]) - lo(s["start_pos"]) + 1)
        )
        == s["gram_hash"],
    )
    sampled = wm.select("doc_id", F.explode(sel).alias("s")).select(
        "doc_id", "s.start_pos", "s.gram_hash"
    )
    rep = (
        sampled.groupBy("gram_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    return sampled.join(rep, "gram_hash").select(
        "doc_id", "start_pos", "gram_hash", "n_docs"
    )


@_q(
    "repeated_span_ranges",
    _SPAN_RANGES_SQL := f"""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(text) || {_SPAN_FOOTER_SQL}, ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    g AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_pos,
             md5(array_to_string(list_slice(arr, u.i, u.i + 9), ' ')) AS gram_hash
      FROM d, unnest(generate_series(1, len(arr) - 9)) AS u(i)
    ),
    rep AS (
      SELECT gram_hash, count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY gram_hash HAVING count(DISTINCT doc_id) > 1
    ),
    s AS (
      SELECT g.doc_id, g.start_pos, rep.n_docs
      FROM g JOIN rep USING (gram_hash)
    ),
    isl AS (
      SELECT doc_id, start_pos, n_docs,
             start_pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY start_pos) AS island
      FROM s
    )
    SELECT doc_id,
           CAST(min(start_pos) AS INT) AS span_start,
           CAST(max(start_pos) - min(start_pos) + 10 AS INT) AS span_len,
           CAST(min(n_docs) AS BIGINT) AS n_docs_min
    FROM isl GROUP BY doc_id, island
    """,
)
def repeated_span_ranges(spark, sf_dir):
    """Maximal repeated spans — the consumable output of Lee et al. 2022
    exact-substring dedup: per-position repeated 10-grams
    (repeated_ngram_spans) coalesced into maximal (doc_id, span_start,
    span_len) ranges via a gaps-and-islands window (island = start_pos -
    row_number per doc; consecutive repeated positions share an island).
    span_len is in WORDS (last repeated gram start - first + 10);
    n_docs_min is the weakest cross-document support along the span —
    a conservative bound a dedup pass can threshold on.

    Scale: adds exactly one window exchange on doc_id plus the island
    groupBy (which reuses the doc_id partitioning — Catalyst plans it
    without a second shuffle of the span stream) on top of the
    repeated_ngram_spans plan; spans are ~1000x fewer rows than grams."""
    from pyspark.sql import Window

    spans = repeated_ngram_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("start_pos")
    isl = spans.select(
        "doc_id",
        "start_pos",
        "n_docs",
        (F.col("start_pos") - F.row_number().over(w)).alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("start_pos").alias("span_start"),
            (F.max("start_pos") - F.min("start_pos") + F.lit(10)).alias("span_len"),
            F.min("n_docs").alias("n_docs_min"),
        )
        .select("doc_id", "span_start", "span_len", "n_docs_min")
    )


@_q(
    "repeated_span_scrub",
    f"""
    WITH docs2 AS (
      SELECT doc_id,
             string_split(trim(text) || {_SPAN_FOOTER_SQL}, ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    spans2 AS (SELECT * FROM ({_SPAN_RANGES_SQL})),
    cov AS (
      SELECT DISTINCT doc_id, unnest(generate_series(
               span_start, span_start + span_len - 1)) AS p
      FROM spans2
    ),
    pos AS (
      SELECT doc_id, CAST(u.i AS INT) AS p, arr[u.i] AS tok, len(arr) AS n
      FROM docs2, unnest(generate_series(1, len(arr))) AS u(i)
    ),
    kept AS (
      SELECT pos.doc_id, pos.p, pos.tok
      FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.p
      WHERE cov.p IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY p) AS scrubbed
      FROM kept GROUP BY doc_id
    )
    -- fully-covered documents (entire text is a repeated span) must
    -- still be emitted, scrubbed to empty — hence the outer join
    SELECT d.doc_id,
           CAST(len(d.arr) - coalesce(a.n_kept, 0) AS BIGINT)
             AS n_removed_tokens,
           coalesce(a.scrubbed, '') AS scrubbed_text
    FROM docs2 d LEFT JOIN agg a USING (doc_id)
    """,
)
def repeated_span_scrub(spark, sf_dir):
    """The ACTION step of Lee et al. 2022 exact-substring dedup —
    `repeated_span_ranges` finds the maximal cross-document repeated
    spans, this operator REMOVES them: every token position covered by a
    repeated span is cut and the survivors are re-joined, emitting the
    scrubbed text plus the removed-token count (identify -> act, the
    same closure `pii_scrub` provides for PII).  Policy: spans are
    removed from EVERY document carrying them (the conservative
    boilerplate-strip variant; Lee et al.'s keep-one-occurrence policy
    is a one-line change — exempt the span rows where doc_id equals the
    span's canonical min-doc — at the cost of carrying that canon id
    through the island aggregation).

    Scale shape: on top of the span-ranges plan, the scrub itself is a
    per-doc span-list collect (spans are ~1000x fewer rows than grams)
    joined back to the corpus on doc_id, and the cut is a MAP-SIDE
    array filter (exists() over the collected span list per token
    index) — overlapping islands are handled naturally since coverage
    is evaluated per position.  Documents with no repeated span pass
    through with an empty span list (left join), never dropped."""
    spans = repeated_span_ranges(spark, sf_dir)
    agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("spans")
    )
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = _span_footer_arr()
    joined = docs.select("doc_id", arr.alias("arr")).join(agg, "doc_id", "left")
    spans_col = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_len:int>>"),
    )
    # 1-based token position p is covered iff some span s has
    # s.span_start <= p < s.span_start + s.span_len
    kept = F.filter(
        F.zip_with(
            F.col("arr"),
            F.sequence(F.lit(1), F.size("arr")),
            lambda t, p: F.struct(t.alias("tok"), p.alias("p")),
        ),
        lambda x: ~F.exists(
            spans_col,
            lambda s: (x["p"] >= s["span_start"])
            & (x["p"] < s["span_start"] + s["span_len"]),
        ),
    )
    return joined.select(
        "doc_id",
        (F.size("arr") - F.size(kept)).cast("long").alias("n_removed_tokens"),
        F.array_join(F.transform(kept, lambda x: x["tok"]), " ").alias(
            "scrubbed_text"
        ),
    )


#: PII patterns (public-knowledge conservative set; identical Java/RE2
#: semantics so the DuckDB oracle replays them verbatim)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}"
#: deterministic PII augmentation (the documents corpus is synthetic and
#: PII-free, so the query plants one of each per row — the oracle proves
#: the scrubber removed exactly what was planted plus anything incidental)
_PII_RAW_SQL = (
    "text || ' Contact reporter' || (doc_id % 20) || '@example.com or call"
    " +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' via"
    " 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || ' today.'"
)


@_q(
    "pii_scrub",
    f"""
    WITH pii AS (SELECT doc_id, {_PII_RAW_SQL} AS raw FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '{_PII_IPV4}')) AS BIGINT) AS n_ips
    FROM pii
    """,
)
def pii_scrub(spark, sf_dir):
    """PII scrubbing/redaction (standard training-data pipeline stage):
    email / IPv4 / phone patterns replaced with typed redaction tokens,
    plus per-document match counts for audit metrics.  Patterns are the
    conservative public-knowledge set; replacement order email -> ip ->
    phone so the later patterns can't match inside an already-redacted
    span.

    Scale: pure narrow projection over built-in regexp_replace /
    regexp_count — zero exchanges, JVM-side codegen, no UDF; at 100 TB the
    scrub rides whatever scan partitioning the corpus already has."""
    docs = _docs(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact reporter"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" today."),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count(raw, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(raw, F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
    )


@_q(
    "dedup_jaccard_pairs",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 200 AND trim(text) != ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8
    """,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """Near-dup detection: token-set Jaccard >= 0.8 via a token-inverted-
    index self-join (the exact counterpart of a MinHash-LSH candidate
    verify stage; bounded to doc_id < 200 so the pairwise verify stays
    small at every sf)."""
    docs = _docs(spark, sf_dir).filter(
        (F.col("doc_id") < 200) & (F.trim(F.col("text")) != "")
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # sizes is corpus-cardinality (one row per doc): semi-join it down to
    # docs that actually appear in a candidate pair before the lookup
    # joins, and let AQE pick the join strategy from the post-semi-join
    # size instead of forcing a broadcast of a data-dependent frame
    # (same guard as textops.minhash_lsh_pairs' verify tier).
    cand_ids = (
        inter.select(F.col("doc_a").alias("doc_id"))
        .union(inter.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sizes = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(cand_ids, "doc_id", "left_semi")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@_q(
    "minhash_lsh_pairs",
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 AND trim(text) != ''),
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs),
    minh0 AS (
      SELECT doc_id, a,
             min(substr(md5(cast(a AS varchar) || ':' || token), 1, 8))  AS m0,
             min(substr(md5(cast(a AS varchar) || ':' || token), 9, 8))  AS m1,
             min(substr(md5(cast(a AS varchar) || ':' || token), 17, 8)) AS m2,
             min(substr(md5(cast(a AS varchar) || ':' || token), 25, 8)) AS m3
      FROM tok, range(4) r(a) GROUP BY doc_id, a
    ),
    minh AS (
      SELECT doc_id, a * 4 + lb.b AS k,
             CASE lb.b WHEN 0 THEN m0 WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END AS mh
      FROM minh0, range(4) lb(b)
    ),
    bands AS (
      SELECT doc_id, cast(k // 4 AS int) AS band,
             md5(string_agg(mh, '' ORDER BY k)) AS bkey
      FROM minh GROUP BY doc_id, cast(k // 4 AS int)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT doc_a, doc_b, count(*) AS shared
      FROM cand
      JOIN tok ta ON ta.doc_id = doc_a
      JOIN tok tb ON tb.doc_id = doc_b AND ta.token = tb.token
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    """,
)
def minhash_lsh_pairs(spark, sf_dir):
    """MinHash(16) -> 4x4 LSH banding -> bucket-join candidates -> exact
    Jaccard verify (textops.minhash_lsh_pairs).  md5-seeded hashes make the
    whole pipeline reproducible in the DuckDB oracle.  Bounded to
    doc_id < 300 so the verify stage stays small at every sf; at scale the
    bound is dropped and only LSH collisions are ever joined."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return textops.minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)


#: shared CTE prefix for the LSH queries: tokens + 16 md5 minhash lanes +
#: 4x4 banding + candidate pairs over the doc_id < 300 evaluation sample
_LSH_CAND_CTES = """
    docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 AND trim(text) != ''),
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs),
    minh0 AS (
      SELECT doc_id, a,
             min(substr(md5(cast(a AS varchar) || ':' || token), 1, 8))  AS m0,
             min(substr(md5(cast(a AS varchar) || ':' || token), 9, 8))  AS m1,
             min(substr(md5(cast(a AS varchar) || ':' || token), 17, 8)) AS m2,
             min(substr(md5(cast(a AS varchar) || ':' || token), 25, 8)) AS m3
      FROM tok, range(4) r(a) GROUP BY doc_id, a
    ),
    minh AS (
      SELECT doc_id, a * 4 + lb.b AS k,
             CASE lb.b WHEN 0 THEN m0 WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END AS mh
      FROM minh0, range(4) lb(b)
    ),
    bands AS (
      SELECT doc_id, cast(k // 4 AS int) AS band,
             md5(string_agg(mh, '' ORDER BY k)) AS bkey
      FROM minh GROUP BY doc_id, cast(k // 4 AS int)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )"""


@_q(
    "lsh_recall_report",
    f"""
    WITH {_LSH_CAND_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b, count(*) AS shared
      FROM tok ta JOIN tok tb
        ON ta.token = tb.token AND ta.doc_id < tb.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    ),
    verified AS (
      SELECT doc_a, doc_b FROM truth
      WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM cand)
    )
    SELECT CAST(t.n AS BIGINT) AS n_true_pairs,
           CAST(c.n AS BIGINT) AS n_candidates,
           CAST(v.n AS BIGINT) AS n_verified,
           CASE WHEN t.n > 0 THEN round(v.n * 1.0 / t.n, 4) END AS recall,
           CASE WHEN c.n > 0 THEN round(v.n * 1.0 / c.n, 4) END AS banding_precision
    FROM (SELECT count(*) AS n FROM truth) t,
         (SELECT count(*) AS n FROM cand) c,
         (SELECT count(*) AS n FROM verified) v
    """,
)
def lsh_recall_report(spark, sf_dir):
    """LSH parameter evaluation — the tuning lane a team runs BEFORE
    committing a (num_hashes, band_size) choice to a 10^12-doc dedup job:
    measured recall and banding precision of the MinHash(16)/4x4 tier at
    the Jaccard-0.5 operating threshold, against exact all-pairs truth on
    a bounded sample (doc_id < 300 — the only place all-pairs truth is
    affordable, and the production pattern: recall is estimated on a
    sample, never the corpus).  recall = |truth ∩ candidates| / |truth|
    (the verify stage keeps exactly the true candidates, so missed truth
    = banding misses); banding_precision = |truth ∩ candidates| /
    |candidates| (how much verify work the bucket join induces).

    Scale shape: every frame descends from the bounded sample; the only
    quadratic step (exact truth) is the point of the harness and is
    bounded by construction.  One row out; all-integer counts plus exact
    rational ratios, so the oracle hash-matches trivially."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    tok = textops.tokens(docs)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta, tb = tok.alias("ta"), tok.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("ta.token") == F.col("tb.token"))
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        .groupBy(
            F.col("ta.doc_id").alias("doc_a"), F.col("tb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    truth = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    cand = textops.lsh_candidate_pairs(tok, num_hashes=16, band_size=4)
    verified = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    v = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    rep = t.crossJoin(c).crossJoin(v)
    ratio = lambda num, den: F.round(  # noqa: E731
        F.when(F.col(den) > 0, F.col(num).cast("double") / F.col(den)), 4
    )
    return rep.select(
        "n_true_pairs",
        "n_candidates",
        "n_verified",
        ratio("n_verified", "n_true_pairs").alias("recall"),
        ratio("n_verified", "n_candidates").alias("banding_precision"),
    )


@_q(
    "simhash_fingerprint",
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE trim(text) != ''),
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs),
    tokh AS (SELECT doc_id, md5(token) AS h FROM tok),
    votes AS (
      SELECT doc_id, b,
             sum((((strpos('0123456789abcdef', substr(h, CAST(1 + b // 4 AS INT), 1)) - 1)
                   // (CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2)
                 * 2 - 1) AS v
      FROM tokh, range(32) r(b) GROUP BY doc_id, b
    )
    SELECT doc_id,
           string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_fingerprint(spark, sf_dir):
    """32-bit SimHash per document (textops.simhash): per-bit +-1 token
    votes from md5 parity — near-dup docs differ in few bits (Hamming
    distance over the bit-string)."""
    return textops.simhash(_docs(spark, sf_dir), bits=32)


@_q(
    "simhash_hamming_pairs",
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 AND trim(text) != ''),
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs),
    tokh AS (SELECT doc_id, md5(token) AS h FROM tok),
    votes AS (
      SELECT doc_id, b,
             sum((((strpos('0123456789abcdef', substr(h, CAST(1 + b // 4 AS INT), 1)) - 1)
                   // (CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2)
                 * 2 - 1) AS v
      FROM tokh, range(32) r(b) GROUP BY doc_id, b
    ),
    sh AS (SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS s
           FROM votes GROUP BY doc_id),
    blocks AS (SELECT doc_id, b, substr(s, CAST(b * 8 + 1 AS INT), 8) AS bv
               FROM sh, range(4) r(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM blocks a JOIN blocks c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
    ),
    ham AS (
      SELECT doc_a, doc_b,
             len(list_filter(generate_series(1, 32),
                 i -> substr(x.s, CAST(i AS INT), 1) != substr(y.s, CAST(i AS INT), 1)))
               AS hamming
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
    FROM ham WHERE hamming <= 3
    """,
)
def simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup pairs by Hamming distance
    (textops.simhash_hamming_pairs) — the Manku/Jain/Das Sarma (WWW
    2007) block-permutation dedup Google ran on its crawl, next to the
    MinHash tier: 4 blocks of 8 bits, equi-join on (block, value) for
    candidates, exact bitwise verify at Hamming <= 3.  Pigeonhole makes
    the recall EXACT (<= 3 differing bits leave at least one of 4 blocks
    identical), unlike MinHash banding's probabilistic recall — the
    `lsh_recall_report` harness exists precisely because of that
    difference.  Bounded to doc_id < 300 like the LSH demo; the verify
    fingerprint lookup is semi-joined to the candidate set and UNHINTED
    (the minhash_lsh_pairs sizes discipline)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return textops.simhash_hamming_pairs(
        docs, bits=32, block_count=4, max_hamming=3
    )


@_q(
    "embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_dot_product(a.embedding, b.embedding)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(
            list_dot_product(a.embedding, b.embedding)
            / (sqrt(list_dot_product(a.embedding, a.embedding))
               * sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.4
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (textops.embedding_near_dup_pairs),
    bounded to vec_id < 500 — the brute-force verify tier; ann_ivf_topk is
    the scale path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 500
    )
    return textops.embedding_near_dup_pairs(emb, threshold=0.4)


import random as _random

# deterministic sign-LSH hyperplanes, shared verbatim by the Spark operator
# and the DuckDB oracle (decimal literals parse to identical doubles)
_lsh_rng = _random.Random(42)
_LSH_PLANES = [
    [round(_lsh_rng.uniform(-1.0, 1.0), 6) for _ in range(64)] for _ in range(4)
]
_LSH_BUCKET_SQL = " || ".join(
    "(CASE WHEN list_dot_product(embedding, ["
    + ", ".join(str(x) for x in plane)
    + "]) >= 0 THEN '1' ELSE '0' END)"
    for plane in _LSH_PLANES
)


@_q(
    "lsh_cosine_pairs",
    f"""
    WITH b AS (
      SELECT vec_id, embedding, {_LSH_BUCKET_SQL} AS bucket
      FROM embeddings
    )
    SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
           round(list_dot_product(l.embedding, r.embedding)
                 / (sqrt(list_dot_product(l.embedding, l.embedding))
                    * sqrt(list_dot_product(r.embedding, r.embedding))), 4) AS cosine
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    WHERE round(list_dot_product(l.embedding, r.embedding)
                / (sqrt(list_dot_product(l.embedding, l.embedding))
                   * sqrt(list_dot_product(r.embedding, r.embedding))), 4) >= 0.4
    """,
)
def lsh_cosine_pairs_q(spark, sf_dir):
    """Sign-LSH (random hyperplane) near-dup over the full embeddings table
    (textops.lsh_cosine_pairs): bucketing is a map-only projection over
    inlined hyperplane literals, only same-bucket pairs are joined — the
    LSH scale path next to the IVF one."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.lsh_cosine_pairs(emb, _LSH_PLANES, threshold=0.4)


@_q(
    "ann_ivf_topk",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             list_dot_product(e.embedding, c.cvec)
             / (sqrt(list_dot_product(e.embedding, e.embedding))
                * sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
      FROM e, c
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id AS qcent
          FROM assigned WHERE vec_id = 0)
    SELECT a.vec_id,
           round(
             list_dot_product(a.embedding, q.qvec)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine
    FROM assigned a, q
    WHERE a.centroid_id = q.qcent AND a.vec_id != q.qid
    ORDER BY cosine DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-k (textops.ann_ivf_topk): assign every
    vector to its max-cosine centroid (centroids broadcast, single narrow
    pass), probe only the query's bucket — ~1/C of the corpus scanned vs
    brute force.  Centroids are the deterministic vec_id < 8 set."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    query = emb.filter(F.col("vec_id") == 0)
    return textops.ann_ivf_topk(emb, centroids, query, k=10)


#: ann_recall_report contract constants: the bounded evaluation query
#: sample (3 fixed vec_ids spanning distinct buckets at this sf) and the
#: serving k.  A production eval samples ~10^3 queries — still bounded by
#: contract, never corpus-cardinality.
_ANN_EVAL_QIDS = (0, 7, 19)
_ANN_EVAL_K = 10

_ANN_COS_AQ = (
    "list_dot_product(a.embedding, q.qvec)"
    " / (sqrt(list_dot_product(a.embedding, a.embedding))"
    "    * sqrt(list_dot_product(q.qvec, q.qvec)))"
)


def _ann_recall_sql(qids=_ANN_EVAL_QIDS, k=_ANN_EVAL_K):
    """DuckDB twin of ann_recall_report: the ann_ivf_topk assignment CTEs,
    then per evaluation query an exact brute-force truth top-k and the
    served bucket-probe top-k, both ranked by (round(cos,4) DESC, vec_id)
    so the k-boundary is tie-free and engine-identical."""
    base = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             list_dot_product(e.embedding, c.cvec)
             / (sqrt(list_dot_product(e.embedding, e.embedding))
                * sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
      FROM e, c
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1
    )"""
    parts, branches = [], []
    for q in qids:
        parts.append(
            f""",
    q{q} AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id AS qcent
             FROM assigned WHERE vec_id = {q}),
    truth{q} AS (
      SELECT a.vec_id FROM e a, q{q} q WHERE a.vec_id != q.qid
      ORDER BY round({_ANN_COS_AQ}, 4) DESC, a.vec_id ASC LIMIT {k}),
    ann{q} AS (
      SELECT a.vec_id FROM assigned a, q{q} q
      WHERE a.centroid_id = q.qcent AND a.vec_id != q.qid
      ORDER BY round({_ANN_COS_AQ}, 4) DESC, a.vec_id ASC LIMIT {k})"""
        )
        hits = (
            f"(SELECT count(*) FROM ann{q}"
            f" WHERE vec_id IN (SELECT vec_id FROM truth{q}))"
        )
        branches.append(
            f"""SELECT CAST({q} AS BIGINT) AS qid,
           (SELECT count(*) FROM truth{q}) AS n_truth,
           (SELECT count(*) FROM ann{q}) AS n_ann,
           {hits} AS n_hits,
           CASE WHEN (SELECT count(*) FROM truth{q}) > 0
                THEN CAST({hits} AS DOUBLE)
                     / (SELECT count(*) FROM truth{q}) END AS recall_at_k"""
        )
    return base + "".join(parts) + "\n    " + "\n    UNION ALL ".join(branches)


@_q("ann_recall_report", _ann_recall_sql())
def ann_recall_report(spark, sf_dir):
    """ANN index evaluation — measured recall@k of the nprobe=1 IVF probe
    against exact brute-force truth, per evaluation query: the tuning
    harness run BEFORE committing an IVF layout to a 10^12-vector corpus
    (the `lsh_recall_report` discipline applied to the embedding index —
    together they cover both retrieval index families).  Output: one row
    per query (qid, n_truth, n_ann, n_hits, recall_at_k); n_ann < k
    exposes under-filled probe buckets, the signal to raise nprobe or
    retrain the codebook.

    Scale shape: the expensive half (exact truth) runs ONLY over the
    bounded contract query sample — per query one map-side cosine
    projection against a broadcast 1-row vector feeding a heap top-k
    (TakeOrderedAndProject, no corpus shuffle or sort); the served side
    probes ~1/C of the corpus exactly as `ann_ivf_topk` does.  All
    intersections/counts happen on k-row frames.  Ranking is on
    round(cosine, 4) with a vec_id tie-break, so the k-boundary is
    deterministic and both engines select identical sets."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    rows = None
    for qid in _ANN_EVAL_QIDS:
        query = emb.filter(F.col("vec_id") == qid)
        qv = query.select(F.col("embedding").alias("qvec"))
        cos = textops._cosine(F.col("embedding"), F.col("qvec"))
        truth = (
            emb.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(qv))
            .select("vec_id", F.round(cos, 4).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(_ANN_EVAL_K)
        )
        ann = textops.ann_ivf_topk(emb, centroids, query, k=_ANN_EVAL_K)
        hits = ann.join(truth.select("vec_id"), "vec_id", "semi")
        row = (
            truth.agg(F.count(F.lit(1)).alias("n_truth"))
            .crossJoin(ann.agg(F.count(F.lit(1)).alias("n_ann")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(qid).cast("long").alias("qid"),
                "n_truth",
                "n_ann",
                "n_hits",
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hits").cast("double") / F.col("n_truth"),
                ).alias("recall_at_k"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


#: ivf_train contract constants: K centroids, Lloyd iterations.  A
#: production IVF index trains K ~ sqrt(corpus) (e.g. 4096-65536) for ~10
#: iterations; 4x3 keeps the unrolled DuckDB oracle readable — the
#: per-iteration plan shape is identical at any K/iters
_IVF_TRAIN_K = 4
_IVF_TRAIN_ITERS = 3
_IVF_TRAIN_FP = float(textops.IVF_TRAIN_FP)


def _ivf_assign_cte(prev_c, i):
    """DuckDB CTE: argmax-cosine assignment of every vector against the
    {prev_c} centroid frame (row_number window, (cosine desc, cid asc)
    tie-break) — one Lloyd half-step."""
    return f"""
    a{i} AS (
      SELECT vec_id, e, cid FROM (
        SELECT x.vec_id, x.e, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 list_dot_product(x.e, c.cvec)
                 / (sqrt(list_dot_product(x.e, x.e))
                    * sqrt(list_dot_product(c.cvec, c.cvec)))
                 DESC, c.cid ASC) AS rn
        FROM e x, {prev_c} c) WHERE rn = 1
    )"""


def _ivf_stats_cte(i, fp=_IVF_TRAIN_FP):
    """DuckDB CTE: per-(cluster, pos) fixed-point sums + counts of a{i}."""
    return f""",
    s{i} AS (
      SELECT cid, u.pos - 1 AS pos,
             sum(CAST(floor(e[u.pos] * {fp} + 0.5) AS BIGINT)) AS s,
             count(*) AS n
      FROM a{i}, UNNEST(generate_series(1, len(e))) AS u(pos)
      GROUP BY 1, 2
    )"""


def _ivf_update_cte(i, fp=_IVF_TRAIN_FP):
    """DuckDB CTE: next centroid frame c{i} from s{i} means, keeping the
    previous centroid for empty clusters."""
    return f""",
    c{i} AS (
      SELECT p.cid, COALESCE(m.cvec, p.cvec) AS cvec
      FROM c{i - 1} p LEFT JOIN (
        SELECT cid,
               list_transform(
                 list_sort(list({{'p': pos, 'm': CAST(s AS DOUBLE) / n / {fp}}})),
                 r -> r.m) AS cvec
        FROM s{i} GROUP BY cid) m ON p.cid = m.cid
    )"""


def _ivf_loop_ctes(k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS, fp=_IVF_TRAIN_FP):
    """The shared unrolled-Lloyd CTE chain (e, c0, a1 .. s{iters})
    replayed by both the ivf_train and cluster_mix_report oracles."""
    sql = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < {k}
    ),{_ivf_assign_cte("c0", 1)[5:]}{_ivf_stats_cte(1, fp)}"""
    for i in range(2, iters + 1):
        sql += (
            _ivf_update_cte(i - 1, fp)
            + ","
            + _ivf_assign_cte(f"c{i - 1}", i)
            + _ivf_stats_cte(i, fp)
        )
    return sql


def _ivf_train_sql(k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS, fp=_IVF_TRAIN_FP):
    """Unrolled DuckDB replay of the Lloyd loop: per iteration one
    argmax-cosine assignment (row_number window over the K-row centroid
    frame) and one fixed-point per-cluster mean, as plain CTEs."""
    return (
        _ivf_loop_ctes(k, iters, fp)
        + f"""
    SELECT cid AS centroid_id, pos, CAST(s AS BIGINT) AS sum_fixed,
           CAST(n AS BIGINT) AS cluster_size,
           round(CAST(s AS DOUBLE) / n / {fp}, 6) AS centroid
    FROM s{iters}
    """
    )


@_q("ivf_train", _ivf_train_sql())
def ivf_train(spark, sf_dir):
    """IVF codebook TRAINING (textops.ivf_train) — Lloyd's k-means over
    the embedding corpus, completing the ANN story the way `bpe_train`
    completes `bpe_tokenize`: `ann_ivf_topk` consumes a codebook, this
    learns it.  Deterministic init (vec_id < K, the same seed set the
    serving query uses today), K=4 centroids, 3 iterations.

    Scale shape: per iteration the corpus is scanned once and NEVER
    shuffled — assignment is a map-side array_max fold over the K-row
    codebook collapsed to ONE broadcast row (K is a contract constant),
    and the mean update is one bounded-output groupBy(cid, pos) whose
    map-side combine caps the shuffle at K*dim rows per task.  Centroid
    means are exact fixed-point integer sums (order-independent, so the
    DuckDB oracle replays the full loop hash-exactly); all cosine
    arithmetic is forced to double with the proven `topk_cosine` fold.
    Output: the trained codebook as flat (centroid_id, pos, sum_fixed,
    cluster_size, centroid) rows, consumable via
    `textops.codebook_from_training` (unit-tested against
    `ann_ivf_topk`)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.ivf_train(emb, k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS)


def _cluster_mix_sql(k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS, fp=_IVF_TRAIN_FP):
    """Extend the shared Lloyd replay by one update + one assignment: the
    serving assignment against the TRAINED codebook c{iters}, then the
    (cluster, label) rollup with within-cluster shares."""
    i = iters + 1
    return (
        _ivf_loop_ctes(k, iters, fp)
        + _ivf_update_cte(iters, fp)
        + ","
        + _ivf_assign_cte(f"c{iters}", i)
        + f""",
    mix AS (
      SELECT a.cid AS centroid_id, l.label, count(*) AS n_vecs
      FROM a{i} a JOIN embeddings l ON l.vec_id = a.vec_id
      GROUP BY 1, 2
    )
    SELECT centroid_id, CAST(label AS BIGINT) AS label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           round(n_vecs * 1.0 / sum(n_vecs) OVER (PARTITION BY centroid_id), 4)
             AS cluster_share
    FROM mix
    """
    )


#: kNN label propagation: neighbor count and the labeled slice
_KNN_K = 3
_KNN_LABELED_MOD = 5  # vec_id % 5 == 0 is the "human-labeled" subset


def _knn_label_sql(
    k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS, fp=_IVF_TRAIN_FP, knn=_KNN_K
):
    """Extend the shared Lloyd replay by the serving assignment, then
    replay the within-cluster kNN vote: rank labeled neighbors per
    unlabeled vector by (cosine desc, vec_id asc), keep the top k,
    majority label with (votes desc, label asc) tie-break."""
    i = iters + 1
    cos = (
        "round(list_dot_product(u.v, l.v)"
        " / (sqrt(list_dot_product(u.v, u.v))"
        " * sqrt(list_dot_product(l.v, l.v))), 4)"
    )
    return (
        _ivf_loop_ctes(k, iters, fp)
        + _ivf_update_cte(iters, fp)
        + ","
        + _ivf_assign_cte(f"c{iters}", i)
        + f""",
    lab AS (
      SELECT a.vec_id, emb.embedding AS v, a.cid, emb.label
      FROM a{i} a JOIN embeddings emb ON emb.vec_id = a.vec_id
      WHERE a.vec_id % {_KNN_LABELED_MOD} = 0
    ),
    unl AS (
      SELECT a.vec_id, emb.embedding AS v, a.cid
      FROM a{i} a JOIN embeddings emb ON emb.vec_id = a.vec_id
      WHERE a.vec_id % {_KNN_LABELED_MOD} != 0
    ),
    nn AS (
      SELECT vec_id, label, cos FROM (
        SELECT u.vec_id, l.label, {cos} AS cos,
               row_number() OVER (PARTITION BY u.vec_id
                 ORDER BY {cos} DESC, l.vec_id ASC) AS rn
        FROM unl u JOIN lab l ON l.cid = u.cid AND l.vec_id != u.vec_id
      ) WHERE rn <= {knn}
    ),
    votes AS (
      SELECT vec_id, label, count(*) AS v, max(cos) AS bc
      FROM nn GROUP BY 1, 2
    )
    SELECT vec_id, CAST(label AS BIGINT) AS pred_label,
           CAST(v AS BIGINT) AS votes, bc AS best_cos
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY v DESC, label ASC) AS rn
      FROM votes
    ) WHERE rn = 1
    """
    )


@_q("knn_label_propagation", _knn_label_sql())
def knn_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation — the active-learning curation
    lane: a small human-labeled subset (vec_id % 5 == 0 here) propagates
    its labels to the unlabeled corpus by majority vote of each vector's
    k=3 nearest LABELED neighbors, with the neighbor search bucketed by
    the `ivf_train` codebook so it is quadratic only WITHIN a cluster
    (the SemDeDup bounding argument: codebook size grows with the corpus,
    per-cluster populations stay bounded).  This is how production teams
    stretch a 10^5-document human quality audit across a 10^12-document
    corpus before training a classifier on the propagated labels.

    Shape: serving assignment is the map-side fold against the trained
    codebook (literals; training plan gated separately); the
    unlabeled-x-labeled pair join is an equi-join on centroid_id — never
    cartesian; neighbor ranking is one window per unlabeled vector
    ((cosine desc, vec_id asc), cosines rounded to 4dp so both engines
    rank identical values); the vote is a bounded groupBy + one more
    window.  Unlabeled vectors whose cluster holds no labeled member get
    no prediction (inner join) — at production scale the labeled set is
    stratified per cluster precisely to avoid that.  best_cos is a MAX
    (order-independent), not a mean, so no float-summation order enters
    the output."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    trained = textops.ivf_train(emb, k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS)
    codebook = textops.codebook_from_training(trained)
    assigned = textops.ivf_assign(emb, codebook, keep_cols=("label",))
    lab = assigned.select(
        F.col("vec_id").alias("lid"),
        F.col("embedding").alias("lvec"),
        "centroid_id",
        F.col("label").alias("llabel"),
    ).filter(F.col("lid") % _KNN_LABELED_MOD == 0)
    unl = assigned.select(
        "vec_id", F.col("embedding").alias("uvec"), "centroid_id"
    ).filter(F.col("vec_id") % _KNN_LABELED_MOD != 0)
    from pyspark.sql import Window

    cos = F.round(textops._cosine(F.col("uvec"), F.col("lvec")), 4)
    nn = (
        unl.join(lab, "centroid_id")
        .filter(F.col("lid") != F.col("vec_id"))
        .select("vec_id", "lid", F.col("llabel").alias("label"), cos.alias("cos"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("cos").desc(), F.col("lid").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _KNN_K)
    )
    votes = nn.groupBy("vec_id", "label").agg(
        F.count(F.lit(1)).alias("v"), F.max("cos").alias("bc")
    )
    win = Window.partitionBy("vec_id").orderBy(F.col("v").desc(), F.col("label").asc())
    return (
        votes.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").cast("long").alias("pred_label"),
            F.col("v").cast("long").alias("votes"),
            F.col("bc").alias("best_cos"),
        )
    )


@_q("cluster_mix_report", _cluster_mix_sql())
def cluster_mix_report(spark, sf_dir):
    """Corpus topical-balance report — the trained IVF codebook put to
    work: every embedding is assigned to its `ivf_train` centroid and
    rolled up by (cluster, label), with within-cluster label shares.
    This is the mix audit a data team runs before temperature sampling
    (is a topic cluster dominated by one source/label? did curation
    collapse a cluster?), and it closes the train→serve loop inside the
    catalog: the codebook consumed here is the one `ivf_train` learned,
    reconstructed from its exact integer sums via
    `codebook_from_training`.

    Scale shape: training is `ivf_train`'s (corpus never shuffled);
    the serving assignment is the same map-side fold against the
    trained codebook inlined as literals (K is a contract constant),
    with the label column riding through the projection
    (`ivf_assign(keep_cols=...)`) so NO corpus-sized join-back on
    vec_id is needed; the rollup is ONE bounded-output aggregate
    (<= K x |labels| rows) plus a window over those rows.  Counts and
    shares are exact rationals."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    trained = textops.ivf_train(emb, k=_IVF_TRAIN_K, iters=_IVF_TRAIN_ITERS)
    codebook = textops.codebook_from_training(trained)
    assigned = textops.ivf_assign(emb, codebook, keep_cols=("label",))
    mix = assigned.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    from pyspark.sql.window import Window

    share = F.col("n_vecs").cast("double") / F.sum("n_vecs").over(
        Window.partitionBy("centroid_id")
    )
    return mix.select(
        "centroid_id",
        F.col("label").cast("long").alias("label"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.round(share, 4).alias("cluster_share"),
    )


@_q(
    "fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents",
)
def fingerprint(spark, sf_dir):
    """Normalized content fingerprint (document identity for dedup joins)."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


@_q(
    "winnow_fingerprints",
    """
    WITH docs AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    eligible AS (SELECT * FROM docs WHERE len(toks) >= 8),
    grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 4),
                            i -> md5(array_to_string(toks[i:i+4], ' '))) AS g
      FROM eligible
    ),
    fps AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(g) - 3),
                            j -> list_min(g[j:j+3])) AS f
      FROM grams
    )
    SELECT DISTINCT doc_id, unnest(f) AS fp FROM fps
    """,
)
def winnow_fingerprints_q(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing / MOSS,
    textops.winnow_fingerprints): k=5-token shingle hashes, min-sampled
    over w=4 sliding windows — map-only array expressions, no shuffle
    before the fingerprint set."""
    return textops.winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)


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
    import shutil
    from pathlib import Path

    import pandas as pd

    from readability_spark.spark.pages import page_url, synthesize_html
    from readability_spark.spark.warc import build_warc, read_warc_pages

    sf = sf_dir.rstrip("/").split("/")[-1]
    base = Path(f"/tmp/readability_warc/{sf}")
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "source"])
    n_files = 4
    for part in range(n_files):
        sub = docs[docs["doc_id"] % n_files == part]
        records = [
            (
                "response",
                page_url(r.doc_id, r.source),
                "2026-03-01T00:00:00Z",
                synthesize_html(r.doc_id, r.text, r.lang).encode("utf-8"),
            )
            for r in sub.itertuples()
        ]
        (base / f"crawl-{part}.warc.gz").write_bytes(build_warc(records, compress=True))
    pages = read_warc_pages(spark, str(base))
    return extract_articles(pages).select("url", "title", "byline", "status")


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
    import shutil
    from pathlib import Path

    import pandas as pd

    from readability_spark.spark.pages import page_url
    from readability_spark.spark.warc import build_warc, read_wet_documents

    sf = sf_dir.rstrip("/").split("/")[-1]
    base = Path(f"/tmp/readability_wet/{sf}")
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    n_files = 4
    for part in range(n_files):
        sub = docs[docs["doc_id"] % n_files == part]
        records = [
            (
                "conversion",
                page_url(r.doc_id, r.source),
                "2026-03-01T00:00:00Z",
                r.text.encode("utf-8"),
                {"WARC-Identified-Content-Language": r.lang}
                if isinstance(r.lang, str) and r.lang.strip()
                else {},
            )
            for r in sub.itertuples()
        ]
        (base / f"crawl-{part}.warc.wet.gz").write_bytes(build_warc(records, compress=True))
    wet = read_wet_documents(spark, str(base))
    return wet.select(
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
    import shutil
    from pathlib import Path

    import pandas as pd

    from readability_spark.spark.pages import page_url
    from readability_spark.spark.warc import build_wat, read_wat_metadata

    sf = sf_dir.rstrip("/").split("/")[-1]
    base = Path(f"/tmp/readability_wat/{sf}")
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
    )
    n_files = 4
    for part in range(n_files):
        sub = docs[docs["doc_id"] % n_files == part]
        entries = [
            (
                page_url(r.doc_id, r.source),
                "2026-03-01T00:00:00Z",
                f"Daily Report Number {r.doc_id} Edition",
                [f"/promo/{r.doc_id}/{j}" for j in range(1 + r.doc_id % 3)],
            )
            for r in sub.itertuples()
        ]
        (base / f"crawl-{part}.warc.wat.gz").write_bytes(
            build_wat(entries, compress=True)
        )
    wat = read_wat_metadata(spark, str(base))
    return wat.select(
        "url",
        "title",
        "n_links",
        F.element_at(F.col("links"), 1).alias("first_link"),
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
    vectorized mapInPandas pass.  Round-trip equality with the source text
    is the oracle."""
    from readability_spark.spark.pdf import extract_pdf_pages, synthesize_pdfs

    return extract_pdf_pages(synthesize_pdfs(_docs(spark, sf_dir))).select(
        "doc_id", "pdf_text", "pdf_chars", "status"
    )


@_q(
    "multimodal_features",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           100 + (ascii(substr(md5(text), 1, 1)) % 16) * 10 AS width,
           100 + (ascii(substr(md5(text), 2, 1)) % 16) * 10 AS height,
           'ok' AS status
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary media column plumbing (readability_spark/spark/multimodal.py):
    synthesize an opaque payload column JVM-side, then decode/feature-
    extract in one vectorized mapInPandas pass.  The decoder is a
    deterministic stub (no media libs in this container) so the oracle can
    recompute the features in closed form; schema/batching/failure paths
    are the production ones."""
    from readability_spark.spark.multimodal import attach_payloads, extract_media_features

    return extract_media_features(attach_payloads(_docs(spark, sf_dir)))


@_q(
    "multimodal_resize",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CASE WHEN doc_id % 3 = 0
                THEN md5('FAKE' || md5(text) || ':64x48')
                ELSE md5('FAKE' || text) END AS payload_md5,
           CASE WHEN doc_id % 3 = 0 THEN 64 ELSE NULL END AS width,
           CASE WHEN doc_id % 3 = 0 THEN 48 ELSE NULL END AS height,
           CASE WHEN doc_id % 3 = 0 THEN 'ok' ELSE 'skipped' END AS status
    FROM documents
    """,
)
def multimodal_resize(spark, sf_dir):
    """Media resize plumbing (spark/multimodal.py resize_media): image
    payloads re-encoded at 64x48 in one vectorized pass, non-images pass
    through untouched with status='skipped'.  The resizer is a
    deterministic stub (no PIL in this container) so the oracle recomputes
    the output payload hash in closed form; batch shape, schema, and
    failure isolation are the production ones."""
    from readability_spark.spark.multimodal import attach_payloads, resize_media

    out = resize_media(attach_payloads(_docs(spark, sf_dir)), 64, 48)
    return out.select(
        "doc_id",
        "media_type",
        F.md5(F.col("payload")).alias("payload_md5"),
        "width",
        "height",
        "status",
    )


@_q(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           CAST(r.i AS INT) AS frame_idx,
           CAST(((octet_length(encode(text)) * 7) % 60000 + 1000) * r.i // 4
                AS BIGINT) AS frame_ts_ms,
           md5(md5(text) || ':' || r.i) AS frame_md5,
           'ok' AS status
    FROM documents, range(4) r(i)
    WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling plumbing (spark/multimodal.py
    sample_video_frames): four evenly spaced frames per video payload,
    exploded to one row each in a vectorized pass; non-video rows drop.
    The sampler is a deterministic stub (no ffmpeg here) so timestamps and
    per-frame hashes are closed-form; the explode/batch/failure plumbing is
    production-shaped."""
    from readability_spark.spark.multimodal import attach_payloads, sample_video_frames

    return sample_video_frames(attach_payloads(_docs(spark, sf_dir)), n_frames=4)


# ----------------------------------------------------------- text analysis


@_q(
    "token_stats",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           array_length(string_split(trim(text), ' ')) AS n_tokens,
           (SELECT count(DISTINCT t) FROM unnest(string_split(trim(text), ' ')) AS u(t)) AS n_distinct_tokens,
           len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'
           )) AS n_bpe_tokens
    FROM documents
    """,
)
def token_stats(spark, sf_dir):
    """Token counting over the documents table: whitespace tokens plus a
    BPE-ish pre-tokenizer count (GPT-2-style split regex — contractions,
    letter runs, digit runs, punctuation runs, whitespace — the standard
    proxy for LLM token budgeting when no tokenizer model ships with the
    cluster image)."""
    bpe = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), " "))).alias(
            "n_distinct_tokens"
        ),
        F.regexp_count("text", F.lit(bpe)).alias("n_bpe_tokens"),
    )


#: doc_chunks contract constants: 64-token windows sliding by 48 (16-token
#: overlap) — the embedding/RAG preprocessing shape; production values
#: (512/128) change only the literals, not the plan.
_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@_q(
    "doc_chunks",
    f"""
    SELECT doc_id,
           i AS chunk_no,
           i * {_CHUNK_STRIDE} AS start_token,
           least({_CHUNK_SIZE}, n - i * {_CHUNK_STRIDE}) AS n_chunk_tokens,
           array_to_string(
             arr[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
             ' ') AS chunk_text
    FROM (SELECT doc_id, arr, len(arr) AS n
          FROM (SELECT doc_id, string_split(trim(text), ' ') AS arr
                FROM documents WHERE trim(text) != '')),
         UNNEST(range(CAST(floor((n - 1) / {_CHUNK_STRIDE}) AS BIGINT) + 1))
           AS t(i)
    """,
)
def doc_chunks(spark, sf_dir):
    """Sliding token-window document chunking — the embedding/RAG
    preprocessing step every retrieval pipeline runs before embedding:
    each document becomes ceil(n/stride) chunks of up to CHUNK_SIZE
    whitespace tokens overlapping by OVERLAP, with (chunk_no,
    start_token) provenance so chunk hits map back to document spans.
    Every token lands in at least one chunk; chunk boundaries are pure
    arithmetic on token positions, so the output is deterministic and
    engine-independent.

    Scale shape: MAP-ONLY — one narrow projection + one explode of an
    arithmetic F.sequence (no Python, no join, ZERO exchanges,
    plan-gated `doc_chunks_map_only_explode`).  Output amplification is
    bounded by ~n/stride per doc (~1.33x tokens at 64/48), uniform
    across partitions, so the 10^12-doc run is exactly as partitioned as
    its input; the chunk rows stream straight into `embedding`/
    `ann_ivf_topk`-style consumers without a repartition."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    n = F.size(arr)
    last = F.floor((n - F.lit(1)) / F.lit(_CHUNK_STRIDE)).cast("int")
    d = docs.select(
        "doc_id",
        arr.alias("arr"),
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), last)).alias("chunk_no"),
    )
    start = F.col("chunk_no") * F.lit(_CHUNK_STRIDE)
    piece = F.slice(F.col("arr"), start + F.lit(1), F.lit(_CHUNK_SIZE))
    return d.select(
        "doc_id",
        F.col("chunk_no"),
        start.alias("start_token"),
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


@_q(
    "repetition_filter",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    g AS (
      SELECT doc_id, len(arr) - 2 AS total,
             list_transform(range(1, len(arr) - 1),
                            i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]) AS grams
      FROM t WHERE len(arr) >= 3
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS total_3grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_3grams,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / total, 4)
             AS dup_3gram_ratio
    FROM g
    """,
)
def repetition_filter(spark, sf_dir):
    """Within-document repetition filter (the Gopher/MassiveText-style
    duplicate-n-gram quality gate): fraction of repeated 3-grams per
    document, map-only array expressions — no shuffle, no UDF, so the
    filter costs one narrow projection at any corpus scale."""
    arr = F.split(F.trim(F.col("text")), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(arr, i), F.element_at(arr, i + 1), F.element_at(arr, i + 2)
        ),
    )
    base = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .filter(F.size(arr) >= 3)
        .select("doc_id", grams.alias("grams"), (F.size(arr) - 2).alias("total"))
    )
    distinct_n = F.size(F.array_distinct(F.col("grams")))
    return base.select(
        "doc_id",
        F.col("total").cast("long").alias("total_3grams"),
        distinct_n.cast("long").alias("distinct_3grams"),
        F.round(
            F.lit(1.0) - distinct_n.cast("double") / F.col("total"), 4
        ).alias("dup_3gram_ratio"),
    )


@_q(
    "sample_stratified",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS varchar)), 1, 4) <
          (CASE WHEN lang = 'en' THEN '2000' ELSE '8000' END)
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training-mix construction:
    md5-threshold per stratum (here ~12.5% of 'en', ~50% of everything
    else) — a pure map-side filter, reproducible across engines and runs
    (no rand()), the way a 100 TB corpus is downsampled per language
    without a shuffle."""
    return (
        _docs(spark, sf_dir)
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < F.when(F.col("lang") == "en", F.lit("2000")).otherwise(F.lit("8000"))
        )
        .select("doc_id", "lang")
    )


@_q(
    "quality_score",
    """
    WITH t AS (
      SELECT doc_id, text,
             string_split(trim(text), ' ') AS toks,
             length(text) - length(replace(replace(replace(replace(replace(replace(
               text, '.', ''), ',', ''), ';', ''), ':', ''), '!', ''), '?', '')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           round(CAST(length(text) AS DOUBLE) / len(toks), 4) AS avg_token_len,
           CASE WHEN length(text) >= 100 AND len(toks) >= 20 THEN 1 ELSE 0 END AS passes_length_gate,
           round(CAST(n_punct AS DOUBLE) / length(text), 4) AS punct_ratio,
           round(CAST(len(list_filter(toks,
                 x -> x IN ('the','and','of','to','a','in','is','that'))) AS DOUBLE)
                 / len(toks), 4) AS stopword_ratio
    FROM t
    """,
)
def quality_score(spark, sf_dir):
    """Quality scoring: length/token gates plus punctuation and stopword
    ratios (the standard web-text quality filters).  Punctuation counted
    by chained-replace length difference — exactly portable; stopword
    ratio via a filtered token array."""
    toks_arr = F.split(F.trim(F.col("text")), " ")
    toks = F.size(toks_arr)
    punct = F.col("text")
    for ch in ".,;:!?":
        punct = F.replace(punct, F.lit(ch))
    stop = F.size(
        F.filter(
            toks_arr,
            lambda x: x.isin("the", "and", "of", "to", "a", "in", "is", "that"),
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(F.length("text").cast("double") / toks, 4).alias("avg_token_len"),
        F.when((F.length("text") >= 100) & (toks >= 20), 1)
        .otherwise(0)
        .alias("passes_length_gate"),
        F.round(
            (F.length("text") - F.length(punct)).cast("double") / F.length("text"), 4
        ).alias("punct_ratio"),
        F.round(stop.cast("double") / toks, 4).alias("stopword_ratio"),
    )


#: deterministic typography/whitespace noise planted around each document
#: (the synthetic corpus is already clean, so the normalizer needs real
#: mess to prove itself on): tab + curly quotes + NBSP + em dash + newline
#: + ellipsis + trailing runs.  Shared verbatim by both engines.
_TN_PRE = "\t “"
_TN_POST = "”   — \n fin…  "

#: unicode -> ASCII normalization pairs (ftfy-lite subset: quotes, dashes,
#: ellipsis, NBSP), applied before whitespace collapse
_TN_PAIRS = [
    (" ", " "),
    ("“", '"'),
    ("”", '"'),
    ("‘", "'"),
    ("’", "'"),
    ("—", "-"),
    ("–", "-"),
    ("…", "..."),
]

#: control chars + space runs -> single space (raw string: the regex
#: engines, not Python, interpret the \x escapes — identical in Java
#: regex and RE2)
_TN_WS_RE = r"[\x00-\x1f ]+"


def _tn_col(col):
    """Spark twin of _tn_sql: the normalization chain over a Column."""
    norm = col
    for a, b in _TN_PAIRS:
        norm = F.replace(norm, F.lit(a), F.lit(b))
    return F.trim(F.regexp_replace(norm, _TN_WS_RE, " "))


def _tn_sql(expr):
    """DuckDB replay of the normalization chain over ``expr``."""
    sq = lambda s: s.replace("'", "''")  # noqa: E731
    for a, b in _TN_PAIRS:
        expr = f"replace({expr}, '{sq(a)}', '{sq(b)}')"
    return f"trim(regexp_replace({expr}, '{_TN_WS_RE}', ' ', 'g'))"


@_q(
    "text_normalize",
    f"""
    WITH d AS (
      SELECT doc_id, '{_TN_PRE}' || text || '{_TN_POST}' AS raw
      FROM documents
    )
    SELECT doc_id,
           {_tn_sql("raw")} AS text_norm,
           CAST(length(raw) AS BIGINT) AS raw_len,
           CAST(length({_tn_sql("raw")}) AS BIGINT) AS norm_len
    FROM d
    """,
)
def text_normalize(spark, sf_dir):
    """Text normalization — the cleanup stage every web-text pipeline runs
    before tokenization/dedup (the ftfy/CCNet-preprocess shape): unicode
    typography folded to ASCII (curly quotes, en/em dashes, ellipsis,
    NBSP), control characters stripped, whitespace runs collapsed to a
    single space, ends trimmed.  Run BEFORE exact/near dedup so that
    byte-level noise (a stray NBSP, \\r\\n vs \\n) can't split otherwise
    identical documents into different hash buckets.  Noise is planted
    deterministically around the clean synthetic corpus so the operator
    has real work whose inverse is closed-form for the oracle.

    Scale: a chain of built-in replace/regexp_replace/trim expressions —
    pure narrow projection, zero exchanges, whole-stage codegen
    (plan-gated: PLANS.md §text_normalize_map_only)."""
    raw = F.concat(F.lit(_TN_PRE), F.col("text"), F.lit(_TN_POST))
    norm = _tn_col(raw)
    return _docs(spark, sf_dir).select(
        "doc_id",
        norm.alias("text_norm"),
        F.length(raw).cast("long").alias("raw_len"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@_q(
    "llm_corpus_pipeline",
    f"""
    WITH n AS (
      SELECT doc_id, {_tn_sql("text")} AS norm FROM documents
    ),
    corpus AS (SELECT * FROM n WHERE doc_id % 23 != 0),
    g AS (
      SELECT doc_id, norm,
             len(string_split(norm, ' ')) AS n_words,
             min(doc_id) OVER (PARTITION BY md5(norm)) AS canonical_id
      FROM corpus
    ),
    tok AS (SELECT doc_id, string_split(norm, ' ') AS arr FROM n),
    ng AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3]))
               AS gram
      FROM tok WHERE len(arr) >= 4
    ),
    bench AS (SELECT DISTINCT md5(gram) AS h FROM ng
              WHERE doc_id % 23 = 0 AND doc_id < 500),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, md5(gram) AS h FROM ng WHERE doc_id % 23 != 0) c
      JOIN bench USING (h)
    )
    SELECT g.doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(g.norm, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS text,
           CAST(g.n_words AS BIGINT) AS n_words
    FROM g
    WHERE g.n_words >= 30
      AND g.canonical_id = g.doc_id
      AND g.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def llm_corpus_pipeline(spark, sf_dir):
    """The full curation pipeline as ONE query — the run a training-data
    team submits nightly, chaining five already-green stage families
    end-to-end: (1) unicode/whitespace NORMALIZATION (the
    `text_normalize` chain, applied before hashing so byte noise can't
    split dup groups), (2) Gopher word-count QUALITY GATE (>= 30 words),
    (3) exact-dup CANONICALIZATION via the `curated_corpus` one-exchange
    window (min doc_id per md5 of normalized text), (4) lexical
    benchmark DECONTAMINATION (the `decontam_ngram_overlap` 4-gram probe
    — benchmark slice doc_id % 23 == 0 is EXTERNAL to the corpus), and
    (5) PII SCRUBBING of the survivors.  Output: the publishable corpus
    (doc_id, scrubbed text, n_words).

    Scale audit (the point of composing in one plan): the corpus crosses
    exactly ONE corpus-wide exchange — the md5(norm) dedup window; the
    gate and normalization are map-side; the benchmark gram set comes
    from a FIXED-SIZE suite (doc_id < 500 cap), so its broadcast into the
    probe is size-bounded at any corpus scale; the contaminated-id set's
    size is the corpus' contamination rate — data-dependent — so its
    anti-join back is left UNHINTED for AQE's runtime size decision; the
    scrub is a map over survivors.  No sort-merge join on the corpus
    side, nothing cartesian (plan-gated:
    llm_pipeline_one_corpus_exchange)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    n = docs.select("doc_id", _tn_col(F.col("text")).alias("norm"))
    corpus = n.filter(F.col("doc_id") % 23 != 0)
    # The benchmark suite is capped at a FIXED size (doc_id < 500 of the
    # % 23 slice — same device as decontam_semantic's vec_id < 500 cap):
    # a real decontamination list is a fixed artifact (MMLU/GSM8K/...),
    # not a corpus fraction, and the cap is what makes F.broadcast(bench)
    # below legitimate at any corpus scale.
    bench_docs = n.filter((F.col("doc_id") % 23 == 0) & (F.col("doc_id") < 500))

    w = Window.partitionBy(F.md5(F.col("norm")))
    g = corpus.select(
        "doc_id",
        "norm",
        F.size(F.split(F.col("norm"), " ")).alias("n_words"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )

    arr = F.split(F.col("norm"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(arr, i),
            F.element_at(arr, i + 1),
            F.element_at(arr, i + 2),
            F.element_at(arr, i + 3),
        ),
    )

    def ngrams(df):
        return (
            df.filter(F.size(arr) >= 4)
            .select("doc_id", F.explode(grams).alias("gram"))
            .select("doc_id", F.md5(F.col("gram")).alias("h"))
        )

    bench = ngrams(bench_docs).select("h").distinct()
    contaminated = (
        ngrams(corpus).join(F.broadcast(bench), "h").select("doc_id").distinct()
    )

    # contaminated's size is the corpus' contamination rate — data-
    # dependent, so no forced broadcast: the anti-join shuffles once and
    # AQE converts it to a broadcast anti-join at runtime when the
    # measured id-set size is actually small.
    survivors = (
        g.filter((F.col("n_words") >= 30) & (F.col("canonical_id") == F.col("doc_id")))
        .join(contaminated, "doc_id", "left_anti")
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("norm"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return survivors.select(
        "doc_id",
        scrub.alias("text"),
        F.col("n_words").cast("long").alias("n_words"),
    )


#: fasttext-style hashed linear model — weights/bias/scoring expression
#: now live in readability_spark.spark.modelscore (the probed model-
#: inference seam); see QC_WEIGHTS there for the exactness argument that
#: makes the DuckDB replay hash-match bit-for-bit
from readability_spark.spark.modelscore import (  # noqa: E402
    QC_BIAS as _QC_BIAS,
    QC_WEIGHTS as _QC_WEIGHTS,
    hashed_logit as _qc_hashed_logit,
    score_auto as _score_auto,
)

_QC_W_SQL = "[" + ", ".join(repr(w) for w in _QC_WEIGHTS) + "]"

#: the 4dp-rounded logit as Spark's round() computes it: HALF_UP on the
#: double's shortest decimal text.  DuckDB's round(double, 4) scales by
#: 10^4 in floating point first, so a double just below a decimal tie
#: (doc 63 at sf0.001: 0.028749999999999998) rounds up there but down
#: in Spark; rounding the decimal text instead matches Spark exactly.
_QC_LOGIT_4DP_SQL = (
    f"CAST(round(CAST(CAST(sw / n_tokens + {_QC_BIAS!r} AS VARCHAR)"
    " AS DECIMAL(38, 20)), 4) AS DOUBLE)"
)


@_q(
    "quality_classifier_hashed",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    s AS (
      SELECT doc_id, len(arr) AS n_tokens,
             list_sum(list_transform(arr, t -> ({_QC_W_SQL})[
               ((strpos('{_DSIR_HEX}', substr(md5(t), 1, 1)) - 1) * 16
                + (strpos('{_DSIR_HEX}', substr(md5(t), 2, 1)) - 1)) % 64 + 1
             ])) AS sw
      FROM d
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {_QC_LOGIT_4DP_SQL} AS quality_logit,
           (sw / n_tokens + {_QC_BIAS!r}) >= 0 AS keep
    FROM s
    """,
)
def quality_classifier_hashed(spark, sf_dir):
    """Model-based quality classification — the fasttext-shaped filter tier
    used by LLaMA/RefinedWeb-style pipelines above the heuristic rules
    (Gopher/C4): a linear classifier over HASHED bag-of-words features
    (the fasttext hashing-trick architecture: token -> md5 -> 64-bucket
    feature id -> weight lookup), per-document logit = mean feature
    weight + bias, keep = logit >= 0.  Weights here are a deterministic
    permutation literal (this container trains nothing); the production
    path swaps in the trained vector — same plan, same cost.

    Scale: pure narrow projection — the weight table rides the plan as a
    64-double array literal (the IVF-codebook inlining pattern), the
    per-token lookup folds inside one F.aggregate over the token array,
    and there is NO explode, NO join, NO shuffle of any kind (plan-gated:
    PLANS.md §quality_classifier_map_only).  At 100 TB the classifier
    rides the scan partitioning untouched; a 2M-bucket production table
    would move to a broadcast map-side join or stay inlined at ~16 MB of
    plan literal — both shuffle-free."""
    arr = F.split(F.trim(F.col("text")), " ")
    logit = _qc_hashed_logit(F.col("text"))
    return (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.size(arr).cast("long").alias("n_tokens"),
            F.round(logit, 4).alias("quality_logit"),
            (logit >= 0).alias("keep"),
        )
    )


@_q(
    "quality_score_auto",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    s AS (
      SELECT doc_id, len(arr) AS n_tokens,
             list_sum(list_transform(arr, t -> ({_QC_W_SQL})[
               ((strpos('{_DSIR_HEX}', substr(md5(t), 1, 1)) - 1) * 16
                + (strpos('{_DSIR_HEX}', substr(md5(t), 2, 1)) - 1)) % 64 + 1
             ])) AS sw
      FROM d
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {_QC_LOGIT_4DP_SQL} AS quality_logit,
           (sw / n_tokens + {_QC_BIAS!r}) >= 0 AS keep,
           'hashed' AS scorer
    FROM s
    """,
)
def quality_score_auto(spark, sf_dir):
    """Model-inference SEAM for quality scoring (modelscore.score_auto):
    score with a real trained model when the capability exists — the
    ``fasttext`` package plus a model file at $SPARK_GRAFT_QUALITY_MODEL,
    run per-Arrow-batch via mapInPandas with the model cached once per
    worker — and with the deterministic hashed-linear stand-in otherwise
    (a pure narrow column expression; identical output schema, rows
    labeled by the ``scorer`` column).  The same probed-capability
    pattern as the media decoders (multimodal.decode_auto); the fake-
    injection tests prove both branches.  In this model-less container
    the query always takes the stub tier, which is what the oracle
    replays (and why the oracle stays valid here)."""
    return _score_auto(_docs(spark, sf_dir))


from readability_spark.spark.modelscore import (  # noqa: E402
    CT_DIMS as _CT_DIMS,
    CT_FP as _CT_FP,
    CT_ITERS as _CT_ITERS,
    CT_LABEL_THRESHOLD as _CT_THR,
    CT_LR as _CT_LR,
    CT_STOPWORDS as _CT_STOPS,
    classifier_score_trained as _classifier_score_trained,
    classifier_train as _classifier_train,
)


def _ct_bucket_sql(dims):
    """DuckDB twin of modelscore._ct_bucket: md5 first byte -> [0, dims)."""
    return (
        f"((strpos('{_DSIR_HEX}', substr(md5(t), 1, 1)) - 1) * 16"
        f" + (strpos('{_DSIR_HEX}', substr(md5(t), 2, 1)) - 1)) % {dims}"
    )


def _classifier_zsum(dims):
    """z = c0*x0 + c1*x1 + ... + cb, the strictly left-associative fold
    both engines and both consumers (training + scoring) share."""
    return " + ".join(f"w.c{k} * f.x{k}" for k in range(dims)) + " + w.cb"


def _classifier_ctes(dims, iters, lr, fp):
    """Shared unrolled-CTE chain replaying `_gd_weight_row` in DuckDB:
    f (per-doc hashed features + rule label), then per iteration one
    fixed-point gradient aggregate (g{i}) and one 1-row weight update
    (w{i}), every arithmetic expression written in EXACTLY the Spark
    fold's operation order so both engines produce bit-identical doubles
    (the `_ivf_train_sql` device, applied to GD).  `classifier_train`'s
    oracle appends the weight UNION, `classifier_score_trained`'s the
    per-doc scoring select."""
    fpl = f"{float(fp):.1f}"
    stops = ", ".join(f"'{s}'" for s in _CT_STOPS)
    xs = ",\n             ".join(
        f"CAST(len(list_filter(arr, t -> {_ct_bucket_sql(dims)} = {k})) AS DOUBLE)"
        f" / len(arr) AS x{k}"
        for k in range(dims)
    )
    zsum = _classifier_zsum(dims)
    gsums = ",\n             ".join(
        f"sum(CAST(floor(((t * x{k}) * {fpl}) + 0.5) AS BIGINT)) AS s{k}"
        for k in range(dims)
    )
    xcols = ", ".join(f"x{k}" for k in range(dims))
    sql = f"""
    WITH f AS (
      SELECT doc_id,
             CAST((CAST(len(list_filter(arr, t -> t IN ({stops}))) AS DOUBLE)
                   / len(arr)) >= {_CT_THR!r} AS DOUBLE) AS y,
             {xs}
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS arr
            FROM documents WHERE trim(text) != '')
    ),
    w0 AS (SELECT {", ".join(f"0.0 AS c{k}" for k in range(dims))}, 0.0 AS cb)"""
    for i in range(1, iters + 1):
        sql += f""",
    g{i} AS (
      SELECT {gsums},
             sum(CAST(floor((t * {fpl}) + 0.5) AS BIGINT)) AS s{dims},
             count(*) AS nd
      FROM (
        SELECT {xcols},
               ((0.5 + 0.5 * (z / az)) - y) * (0.5 / (az * az)) AS t
        FROM (
          SELECT {xcols}, y, z, 1.0 + abs(z) AS az
          FROM (SELECT f.*, {zsum} AS z FROM f, w{i - 1} w)
        )
      )
    ),
    w{i} AS (
      SELECT {", ".join(
        f"w.c{k} - {lr!r} * ((CAST(g.s{k} AS DOUBLE) / {fpl}) / g.nd) AS c{k}"
        for k in range(dims)
      )},
             w.cb - {lr!r} * ((CAST(g.s{dims} AS DOUBLE) / {fpl}) / g.nd) AS cb,
             {", ".join(f"g.s{k}" for k in range(dims + 1))}, g.nd
      FROM g{i} g, w{i - 1} w
    )"""
    return sql


def _classifier_train_sql(dims=_CT_DIMS, iters=_CT_ITERS, lr=_CT_LR, fp=_CT_FP):
    """classifier_train oracle: the shared GD CTE chain + the flat
    (dim, weight, grad_sum_fixed, n_docs) UNION over w{iters}."""
    sql = _classifier_ctes(dims, iters, lr, fp)
    branches = [
        f"SELECT CAST({k} AS INTEGER) AS dim, round(c{k}, 6) AS weight,"
        f" CAST(s{k} AS BIGINT) AS grad_sum_fixed, CAST(nd AS BIGINT) AS n_docs"
        f" FROM w{iters}"
        for k in range(dims)
    ] + [
        f"SELECT CAST({dims} AS INTEGER), round(cb, 6),"
        f" CAST(s{dims} AS BIGINT), CAST(nd AS BIGINT) FROM w{iters}"
    ]
    return sql + "\n    " + "\n    UNION ALL ".join(branches)


@_q("classifier_train", _classifier_train_sql())
def classifier_train(spark, sf_dir):
    """Quality-classifier TRAINING (modelscore.classifier_train) — the
    learning half of the scoring story: `quality_classifier_hashed` and
    `quality_score_auto` APPLY a hashed-linear weight vector, this LEARNS
    one by full-batch gradient descent from weak-supervision rule labels
    (the Gopher stopword-fraction rule — the published fasttext-bootstrap
    recipe: cheap rule labels in, learned scorer out).  Completes the
    train/apply pairs alongside `bpe_train`/`bpe_tokenize` and
    `ivf_train`/`ann_ivf_topk`.

    Scale shape (same discipline as `ivf_train`): per iteration the corpus
    is scanned once and NEVER shuffled — the gradient is ONE bounded
    aggregate whose output is D+1 fixed-point integer sums regardless of
    corpus size (map-side combine caps the shuffle at D+1 values per
    task), and the weight update runs on 1-row frames broadcast back into
    the next round.  Gradient contributions are quantized to
    floor(g * 2^24 + 0.5) BIGINTs so integer summation makes the learned
    weights bit-identical under any partitioning, and the squash is the
    rational Elliott fast-sigmoid, so the DuckDB oracle replays the whole
    loop hash-exactly.  Python never touches the corpus (all built-ins).
    D=8 buckets / 3 iterations are contract constants keeping the
    unrolled oracle readable; a 2M-bucket production run is the same plan
    with a bigger (still bounded) aggregate row."""
    return _classifier_train(_docs(spark, sf_dir))


def _classifier_score_sql(dims=_CT_DIMS, iters=_CT_ITERS, lr=_CT_LR, fp=_CT_FP):
    """classifier_score_trained oracle: the shared GD CTE chain + a
    per-doc scoring select over f x w{iters} — identical z fold and
    Elliott squash, so every score double is bit-identical (no rounding
    anywhere: exact IEEE doubles hash-match by construction)."""
    sql = _classifier_ctes(dims, iters, lr, fp)
    return sql + f""",
    scored AS (
      SELECT doc_id, 0.5 + 0.5 * (z / az) AS p, y
      FROM (SELECT doc_id, y, z, 1.0 + abs(z) AS az
            FROM (SELECT f.doc_id, f.y, {_classifier_zsum(dims)} AS z
                  FROM f, w{iters} w))
    )
    SELECT doc_id, p AS score, CAST(y AS INTEGER) AS rule_label,
           p >= 0.5 AS keep
    FROM scored"""


@_q("classifier_score_trained", _classifier_score_sql())
def classifier_score_trained(spark, sf_dir):
    """Train-and-serve composition (modelscore.classifier_score_trained):
    the `classifier_train` GD loop and the corpus-wide application of its
    learned weights in ONE lazy plan — scoring consumes the EXACT
    unrounded doubles still sitting in the 1-row weight frame (broadcast
    into a map-side projection; no driver round-trip, no rounding seam).
    The closed loop `cluster_mix_report` gives the IVF codebook, given to
    the quality classifier: rule labels in, learned scorer out, corpus
    scored, keep = score >= 0.5.

    Scale shape: the training rounds are `classifier_train`'s plan
    verbatim (every exchange a SinglePartition of D+2 bounded values);
    serving adds one more corpus scan against the broadcast weights —
    ZERO keyed shuffles end to end (plan-gated), and the output doubles
    are bit-identical under any partitioning because the weights are."""
    return _classifier_score_trained(_docs(spark, sf_dir))


#: Gopher required stopwords (Rae et al. 2021, public heuristics)
from readability_spark.spark.quality import GOPHER_STOPS as _GOPHER_STOPS
from readability_spark.spark.quality import gopher_signals as _gopher_signals


@_q(
    "gopher_quality_filter",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split(trim(text), ' ') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS mean_wl,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / len(toks) AS alpha_frac,
             CAST(length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) / 3
               AS DOUBLE) / len(toks) AS symbol_ratio,
             len(list_intersect(list_distinct(toks),
                 {list(_GOPHER_STOPS)})) AS n_req_stopwords
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mean_wl, 4) AS mean_word_len,
           round(alpha_frac, 4) AS alpha_word_frac,
           round(symbol_ratio, 4) AS symbol_word_ratio,
           CAST(n_req_stopwords AS BIGINT) AS n_req_stopwords,
           n_words BETWEEN 50 AND 100000 AS pass_word_count,
           mean_wl BETWEEN 3 AND 10 AS pass_mean_word_len,
           symbol_ratio <= 0.1 AS pass_symbol_ratio,
           alpha_frac >= 0.8 AS pass_alpha_frac,
           n_req_stopwords >= 2 AS pass_stopwords,
           (n_words BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3 AND 10)
             AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
             AND n_req_stopwords >= 2 AS keep
    FROM m
    """,
)
def gopher_quality_filter(spark, sf_dir):
    """Gopher/MassiveText quality-rule bundle (Rae et al. 2021, published
    heuristics): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio ('#' and '...'), alphabetic-word fraction, and the
    required-stopword rule (>=2 of the 8 Gopher stopwords present) — one
    keep verdict per document plus every named signal for audit.  Pure
    narrow projection over built-in array/string functions: no shuffle, no
    UDF; at 100 TB it rides the scan like repetition_filter.  (Gopher's
    line-level rules — bullet/ellipsis line fractions — live in
    gopher_line_rules, over deterministically synthesized line
    structure.)  The signal/rule expressions are the shared
    `spark/quality.py::gopher_signals` builder."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    signals, rules, keep = _gopher_signals("text")
    return docs.select(
        "doc_id",
        signals["n_words"].cast("long").alias("n_words"),
        F.round(signals["mean_word_len"], 4).alias("mean_word_len"),
        F.round(signals["alpha_word_frac"], 4).alias("alpha_word_frac"),
        F.round(signals["symbol_word_ratio"], 4).alias("symbol_word_ratio"),
        signals["n_req_stopwords"].cast("long").alias("n_req_stopwords"),
        *[rule.alias(name) for name, rule in rules.items()],
        keep.alias("keep"),
    )


#: words per synthesized line for the Gopher line-level rules (the corpus
#: carries no newlines, so line structure is synthesized deterministically
#: on BOTH engines: 8-word lines; doc_id%5==0 -> every line bulleted,
#: doc_id%5==1 -> every other line ends with an ellipsis, else untouched)
_GL_K = 8
_SQL_LINES0 = (
    f"list_transform(generate_series(0, CAST(ceil(len(arr)/{_GL_K}.0) AS INT) - 1),"
    f" i -> array_to_string(list_slice(arr, i*{_GL_K}+1, i*{_GL_K}+{_GL_K}), ' '))"
)


@_q(
    "gopher_line_rules",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    l0 AS (SELECT doc_id, {_SQL_LINES0} AS lines0 FROM d),
    l AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 5 = 0
                 THEN list_transform(lines0, x -> '- ' || x)
               WHEN doc_id % 5 = 1
                 THEN list_transform(generate_series(1, len(lines0)),
                        i -> CASE WHEN i % 2 = 1 THEN lines0[i] || ' ...'
                                  ELSE lines0[i] END)
               ELSE lines0
             END AS lines
      FROM l0
    ),
    m AS (
      SELECT doc_id,
             len(lines) AS n_lines,
             len(list_filter(lines, x -> starts_with(x, '- ')
                                      OR starts_with(x, '* '))) AS n_bullet,
             len(list_filter(lines, x -> ends_with(x, '...'))) AS n_ellipsis
      FROM l
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           round(CAST(n_bullet AS DOUBLE) / n_lines, 4) AS bullet_line_frac,
           round(CAST(n_ellipsis AS DOUBLE) / n_lines, 4) AS ellipsis_line_frac,
           CAST(n_bullet AS DOUBLE) / n_lines < 0.9 AS pass_bullet_lines,
           CAST(n_ellipsis AS DOUBLE) / n_lines < 0.3 AS pass_ellipsis_lines,
           (CAST(n_bullet AS DOUBLE) / n_lines < 0.9)
             AND (CAST(n_ellipsis AS DOUBLE) / n_lines < 0.3) AS keep
    FROM m
    """,
)
def gopher_line_rules(spark, sf_dir):
    """Gopher/MassiveText LINE-level quality rules (Rae et al. 2021,
    Table A1 — the remaining published rules gopher_quality_filter's
    word-level bundle doesn't cover): reject documents where >= 90% of
    lines start with a bullet marker, or >= 30% of lines end with an
    ellipsis.  The synthetic corpus carries no newlines, so line
    structure is synthesized deterministically and IDENTICALLY on both
    engines (8-word lines; doc_id%5==0 docs are fully bulleted and must
    fail the bullet rule, doc_id%5==1 docs get ellipses on alternating
    lines — 50% >= 30% — and must fail the ellipsis rule, the rest pass
    both), giving the rules real positives and negatives to separate.

    Scale: pure narrow projection over built-in array/string functions —
    no shuffle, no UDF; rides the scan like gopher_quality_filter."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    k = _GL_K
    lines0 = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(arr) / float(k)).cast("int") - 1),
        lambda i: F.array_join(F.slice(arr, i * k + 1, k), " "),
    )
    lines = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.transform(lines0, lambda x: F.concat(F.lit("- "), x)),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.transform(
                lines0,
                lambda x, i: F.when(
                    i % 2 == 0, F.concat(x, F.lit(" ..."))
                ).otherwise(x),
            ),
        )
        .otherwise(lines0)
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda x: x.startswith("- ") | x.startswith("* "))
    )
    n_ellipsis = F.size(F.filter(lines, lambda x: x.endswith("...")))
    bullet_frac = n_bullet.cast("double") / n_lines
    ellipsis_frac = n_ellipsis.cast("double") / n_lines
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        (bullet_frac < 0.9).alias("pass_bullet_lines"),
        (ellipsis_frac < 0.3).alias("pass_ellipsis_lines"),
        ((bullet_frac < 0.9) & (ellipsis_frac < 0.3)).alias("keep"),
    )


#: within-document planted boilerplate line for the duplicate-line rules
#: (word-soup 8-word lines never repeat organically, so each doc gets
#: floor(n_lines * (doc_id%5) / 4) appended copies — doc_id%5 sweeps the
#: duplicate fraction from 0 to ~1/2, landing docs on both sides of every
#: Table A1 threshold)
_GDL_LINE = "subscribe to the newsletter for daily updates now"


def _sql_dup_stats(s, out_prefix):
    """DuckDB replay of the sorted-adjacency duplicate counters over the
    already-sorted list expression ``s``: occurrences beyond the first of
    each distinct element, plus the characters they carry."""
    dup_cnt = (
        f"CASE WHEN len({s}) >= 2 THEN len(list_filter("
        f"generate_series(2, len({s})), i -> {s}[i] = {s}[i-1])) ELSE 0 END"
    )
    dup_chars = (
        f"CASE WHEN len({s}) >= 2 THEN CAST(list_sum(list_transform("
        f"generate_series(2, len({s})), i -> CASE WHEN {s}[i] = {s}[i-1]"
        f" THEN length({s}[i]) ELSE 0 END)) AS BIGINT) ELSE 0 END"
    )
    tot_chars = f"CAST(list_sum(list_transform({s}, x -> length(x))) AS BIGINT)"
    return (
        f"{dup_cnt} AS {out_prefix}_dups, {dup_chars} AS {out_prefix}_dchars,"
        f" len({s}) AS {out_prefix}_n, {tot_chars} AS {out_prefix}_chars"
    )


@_q(
    "gopher_dup_lines",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    l0 AS (SELECT doc_id, {_SQL_LINES0} AS lines0 FROM d),
    l AS (
      SELECT doc_id,
             list_concat(lines0, list_transform(
               generate_series(1, CAST(floor(len(lines0) * (doc_id % 5) / 4.0)
                                       AS BIGINT)),
               x -> '{_GDL_LINE}')) AS lines
      FROM l0
    ),
    lp AS (
      SELECT doc_id, lines,
             list_transform(
               generate_series(0, CAST(ceil(len(lines)/3.0) AS INT) - 1),
               i -> array_to_string(list_slice(lines, i*3+1, i*3+3), ' / '))
               AS paras
      FROM l
    ),
    s AS (
      SELECT doc_id, list_sort(lines) AS sl, list_sort(paras) AS sp
      FROM lp
    ),
    m AS (
      SELECT doc_id, {_sql_dup_stats("sl", "line")},
             {_sql_dup_stats("sp", "para")}
      FROM s
    )
    SELECT doc_id,
           CAST(line_n AS BIGINT) AS n_lines,
           round(CAST(line_dups AS DOUBLE) / line_n, 4) AS dup_line_frac,
           round(CAST(line_dchars AS DOUBLE) / line_chars, 4)
             AS dup_line_char_frac,
           round(CAST(para_dups AS DOUBLE) / para_n, 4) AS dup_para_frac,
           round(CAST(para_dchars AS DOUBLE) / para_chars, 4)
             AS dup_para_char_frac,
           (CAST(line_dups AS DOUBLE) / line_n <= 0.30)
             AND (CAST(para_dups AS DOUBLE) / para_n <= 0.30)
             AND (CAST(line_dchars AS DOUBLE) / line_chars <= 0.20)
             AND (CAST(para_dchars AS DOUBLE) / para_chars <= 0.20) AS keep
    FROM m
    """,
)
def gopher_dup_lines(spark, sf_dir):
    """Gopher/MassiveText WITHIN-document repetition rules over line and
    paragraph units (Rae et al. 2021 Table A1's remaining four lanes,
    complementing gopher_repetition_rules' n-gram lanes): reject documents
    whose duplicate-line fraction > 0.30, duplicate-paragraph fraction
    > 0.30, duplicate-line character fraction > 0.20, or
    duplicate-paragraph character fraction > 0.20 — "duplicates" being
    every occurrence beyond the first of an identical unit.  Line
    structure is the deterministic 8-word synthesis shared with
    gopher_line_rules; paragraphs are 3-line groups; repeated boilerplate
    lines are planted in proportion to doc_id%5 so documents land on both
    sides of every threshold.

    Scale: within-document duplicate counting needs NO shuffle at all —
    sort each row's unit array (O(L log L) map-side) and count adjacent
    equal pairs, so duplicate occurrences and their characters fall out
    of one pass over the sorted array; the whole query is a narrow
    projection (plan-gated: PLANS.md §gopher_dup_lines_map_only), unlike
    an exploded groupBy(doc_id, line) formulation which would shuffle the
    corpus."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    k = _GL_K
    lines0 = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(arr) / float(k)).cast("int") - 1),
        lambda i: F.array_join(F.slice(arr, i * k + 1, k), " "),
    )
    n_plant = F.floor(
        F.size(lines0) * (F.col("doc_id") % 5) / 4.0
    ).cast("int")
    lines = F.concat(lines0, F.array_repeat(F.lit(_GDL_LINE), n_plant))
    paras = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(lines) / 3.0).cast("int") - 1),
        lambda i: F.array_join(F.slice(lines, i * 3 + 1, 3), " / "),
    )

    def dup_stats(sorted_col):
        idx = F.sequence(F.lit(2), F.size(sorted_col))
        adj_eq = lambda i: F.element_at(sorted_col, i) == F.element_at(  # noqa: E731
            sorted_col, i - 1
        )
        dups = F.when(
            F.size(sorted_col) >= 2,
            F.size(F.filter(idx, adj_eq)),
        ).otherwise(F.lit(0))
        dchars = F.when(
            F.size(sorted_col) >= 2,
            F.aggregate(
                idx,
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + F.when(adj_eq(i), F.length(F.element_at(sorted_col, i))).otherwise(
                    F.lit(0)
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))
        chars = F.aggregate(
            sorted_col, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        return dups, dchars, F.size(sorted_col), chars

    staged = docs.select(
        "doc_id", F.sort_array(lines).alias("sl"), F.sort_array(paras).alias("sp")
    )
    l_dups, l_dchars, l_n, l_chars = dup_stats(F.col("sl"))
    p_dups, p_dchars, p_n, p_chars = dup_stats(F.col("sp"))
    dl = l_dups.cast("double") / l_n
    dlc = l_dchars.cast("double") / l_chars
    dp = p_dups.cast("double") / p_n
    dpc = p_dchars.cast("double") / p_chars
    return staged.select(
        "doc_id",
        l_n.cast("long").alias("n_lines"),
        F.round(dl, 4).alias("dup_line_frac"),
        F.round(dlc, 4).alias("dup_line_char_frac"),
        F.round(dp, 4).alias("dup_para_frac"),
        F.round(dpc, 4).alias("dup_para_char_frac"),
        ((dl <= 0.30) & (dp <= 0.30) & (dlc <= 0.20) & (dpc <= 0.20)).alias("keep"),
    )


def _c4_rule_exprs():
    """Shared C4 rule expressions (c4_quality_filter + the filter funnel):
    (lines, kept, has_lorem, has_brace, keep) columns over the
    deterministically synthesized line structure — one definition so the
    funnel provably applies the identical rules."""
    arr = F.split(F.trim(F.col("text")), " ")
    k = _GL_K
    lines0 = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(arr) / float(k)).cast("int") - 1),
        lambda i: F.array_join(F.slice(arr, i * k + 1, k), " "),
    )
    dotted = F.transform(lines0, lambda x: F.concat(x, F.lit(".")))
    mod = F.col("doc_id") % 7
    lines = (
        F.when(mod == 0, dotted)
        .when(
            mod == 1,
            F.concat(
                dotted, F.array(F.lit("please enable javascript to view comments."))
            ),
        )
        .when(mod == 2, F.concat(lines0, F.array(F.lit("lorem ipsum dolor sit amet."))))
        .when(
            mod == 3,
            F.concat(dotted, F.array(F.lit("config { display mode } end."))),
        )
        .otherwise(lines0)
    )
    kept = F.filter(
        lines,
        lambda x: (x.endswith(".") | x.endswith("!") | x.endswith("?"))
        & (F.size(F.split(x, " ")) >= 5)
        & (F.instr(F.lower(x), "javascript") == 0),
    )
    joined = F.array_join(lines, " ")
    has_lorem = F.instr(F.lower(joined), "lorem ipsum") > 0
    has_brace = F.instr(joined, "{") > 0
    keep = (F.size(kept) >= 3) & ~has_lorem & ~has_brace
    return lines, kept, has_lorem, has_brace, keep


@_q(
    "c4_quality_filter",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    l0 AS (SELECT doc_id, {_SQL_LINES0} AS lines0 FROM d),
    l AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 7 = 0
                 THEN list_transform(lines0, x -> x || '.')
               WHEN doc_id % 7 = 1
                 THEN list_append(list_transform(lines0, x -> x || '.'),
                                  'please enable javascript to view comments.')
               WHEN doc_id % 7 = 2
                 THEN list_append(lines0, 'lorem ipsum dolor sit amet.')
               WHEN doc_id % 7 = 3
                 THEN list_append(list_transform(lines0, x -> x || '.'),
                                  'config {{ display mode }} end.')
               ELSE lines0
             END AS lines
      FROM l0
    ),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, x ->
               (ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?'))
               AND len(string_split(x, ' ')) >= 5
               AND NOT contains(lower(x), 'javascript')) AS kept
      FROM l
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           contains(lower(array_to_string(lines, ' ')), 'lorem ipsum') AS has_lorem,
           contains(array_to_string(lines, ' '), '{{') AS has_brace,
           len(kept) >= 3
             AND NOT contains(lower(array_to_string(lines, ' ')), 'lorem ipsum')
             AND NOT contains(array_to_string(lines, ' '), '{{') AS keep,
           array_to_string(kept, ' ') AS cleaned_text
    FROM k
    """,
)
def c4_quality_filter(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020, the published heuristics
    behind the C4 corpus): keep only lines that end in terminal
    punctuation AND have >= 5 words AND don't mention 'javascript'; drop
    whole documents containing 'lorem ipsum' or a curly brace (code), or
    with fewer than 3 surviving sentence-lines.  Emits per-rule signals,
    the keep verdict, and the cleaned text (kept lines re-joined) — the
    actual C4 output.  Line structure is synthesized deterministically on
    both engines like gopher_line_rules (8-word lines; doc_id%7 selects a
    mutation: 0 = terminal-punct lines that pass, 1 = + a javascript
    line C4 strips while keeping the doc, 2 = + a lorem-ipsum line that
    kills the doc, 3 = + a curly-brace line that kills the doc, else
    unpunctuated lines that fail the 3-sentence floor).

    Scale: pure narrow projection over built-in array/string functions —
    no shuffle, no UDF; rides the scan like the Gopher bundles."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    lines, kept, has_lorem, has_brace, keep = _c4_rule_exprs()
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((F.size(kept) >= 3) & ~has_lorem & ~has_brace).alias("keep"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


#: CCNet-style perplexity keep threshold (unigram proxy; the synthetic
#: corpus' per-doc NLL spans ~3.38-3.70 nats, median 3.40 — 3.45 splits
#: "head+middle" from the "tail" like CCNet's per-language cutoffs)
_PPL_THRESHOLD = 3.45


def _unigram_nll(docs):
    """Per-document mean negative log-likelihood under a corpus-derived
    unigram LM — the scoring core shared by perplexity_filter and
    ccnet_buckets.  Input must already be filtered to non-blank text.
    Returns (doc_id, lang, n_tokens, nll).

    Scale: the vocab aggregate is map-side combined and vocab-sized; its
    global-total window runs on that small frame only; the scoring join
    broadcasts the vocab back onto the token stream (AQE); one doc_id
    shuffle aggregates per-doc NLL."""
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = vocab.select(
        "token",
        F.log(
            F.col("c").cast("double") / F.sum("c").over(Window.partitionBy())
        ).alias("logp"),
    )
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("logp") / F.count(F.lit(1))).alias("nll"),
        )
    )


@_q(
    "perplexity_filter",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    tok AS (SELECT doc_id, unnest(arr) AS token FROM d),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    v2 AS (
      SELECT token,
             ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM vocab)) AS logp
      FROM vocab
    ),
    s AS (
      SELECT doc_id, count(*) AS n_tokens, -sum(logp) / count(*) AS nll
      FROM tok JOIN v2 USING (token) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(nll, 4) AS nll,
           round(nll, 4) <= {_PPL_THRESHOLD} AS keep
    FROM s
    """,
)
def perplexity_filter(spark, sf_dir):
    """LM-perplexity quality filter — the CCNet (Wenzek et al. 2020) /
    LLaMA-pipeline shape: score every document by average negative
    log-likelihood under a language model and keep the low-perplexity
    head/middle.  A real deployment plugs a KenLM model in; this sandbox
    has no LM artifact, so the LM is a corpus-derived UNIGRAM model (two
    passes: token counts -> logprobs, then per-doc mean NLL) — the
    pipeline shape, join pattern and thresholding are exactly CCNet's,
    with the model swappable behind the vocab frame.

    Scale: one map-side-combined shuffle builds the vocab (result is
    vocab-sized, tiny next to the corpus); the scoring join broadcasts
    the vocab (AQE); one shuffle on doc_id aggregates per-doc NLL —
    nothing corpus-sized is shuffled twice.  The global-total window runs
    on the vocab-sized frame only."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    scored = _unigram_nll(docs)
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("nll", 4).alias("nll"),
        (F.round("nll", 4) <= F.lit(_PPL_THRESHOLD)).alias("keep"),
    )


#: interpolation weight for the bigram LM: p = L*p_bigram + (1-L)*p_unigram
_BIGRAM_LAMBDA = 0.75
#: per-bigram mean-NLL keep threshold (set at the fixture's median NLL so
#: the keep verdict genuinely splits — the same convention as
#: _PPL_THRESHOLD; CCNet derives the production cutoff from per-language
#: sampled quantiles, which is exactly what ccnet_buckets demonstrates)
_BIGRAM_PPL_THRESHOLD = 3.39


@_q(
    "bigram_perplexity_filter",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    tok AS (SELECT doc_id, unnest(arr) AS token FROM d),
    uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    u2 AS (
      SELECT token, CAST(c AS DOUBLE) / (SELECT sum(c) FROM uni) AS pu
      FROM uni
    ),
    pairs AS (
      SELECT doc_id, p.w1, p.w2 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(arr) - 1),
                 i -> {{'w1': arr[i], 'w2': arr[i + 1]}})) AS p
        FROM d WHERE len(arr) >= 2)
    ),
    big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
    ctx AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
    s AS (
      SELECT doc_id, count(*) AS n_bigrams,
             -sum(ln({_BIGRAM_LAMBDA} * CAST(b.c2 AS DOUBLE) / x.c1
                     + {1.0 - _BIGRAM_LAMBDA} * u.pu)) / count(*) AS nll
      FROM pairs p
      JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      JOIN ctx x ON x.w1 = p.w1
      JOIN u2 u ON u.token = p.w2
      GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(nll, 4) AS nll,
           round(nll, 4) <= {_BIGRAM_PPL_THRESHOLD} AS keep
    FROM s
    """,
)
def bigram_perplexity_filter(spark, sf_dir):
    """Interpolated bigram-LM perplexity filter — the model-quality tier
    above `perplexity_filter`'s unigram stand-in, and still one notch
    below a full KenLM plug-in: p(w2|w1) = L*c(w1,w2)/c(w1) +
    (1-L)*p_unigram(w2) with L=0.75 (Jelinek-Mercer interpolation — the
    unigram floor also guarantees p > 0, so ln() is total).  A document's
    score is its mean bigram NLL; low-NLL docs keep, the CCNet
    head/middle discipline with context sensitivity exact n-gram
    repetition rules can't express.

    Scale: the bigram/context/unigram model frames are all bounded by
    vocabulary size (vocab^2 worst case for the bigram table; production
    bounds it with the DSIR md5-bucket hashing trick, same semantics),
    built by map-side-combined aggregates; the three scoring joins are
    UNHINTED — vocabulary cardinality is data-dependent, so AQE decides
    (broadcast at this sf, shuffled hash join on the token keys at
    10^12-doc scale); one doc_id shuffle aggregates per-doc NLL.
    Single-token documents have no bigram and drop out of the score —
    `gopher_quality_filter`'s min-word rule owns that lane."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    from pyspark.sql import Window

    arr = F.split(F.trim(F.col("text")), " ")
    d = docs.select("doc_id", arr.alias("arr"))
    tok = d.select(F.explode("arr").alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    uni = uni.select(
        F.col("token").alias("w2"),
        (F.col("c").cast("double") / F.sum("c").over(Window.partitionBy())).alias(
            "pu"
        ),
    )
    pairs = d.filter(F.size("arr") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("arr") - 1),
                lambda i: F.struct(
                    F.element_at("arr", i).alias("w1"),
                    F.element_at("arr", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    p_interp = F.lit(_BIGRAM_LAMBDA) * F.col("c2").cast("double") / F.col(
        "c1"
    ) + F.lit(1.0 - _BIGRAM_LAMBDA) * F.col("pu")
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(ctx, ["w1"])
        .join(uni, ["w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum(F.log(p_interp)) / F.count(F.lit(1))).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("nll", 4).alias("nll"),
        (F.round("nll", 4) <= F.lit(_BIGRAM_PPL_THRESHOLD)).alias("keep"),
    )


@_q(
    "dsir_importance",
    f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    f AS (
      SELECT doc_id, lang,
             ((strpos('{_DSIR_HEX}', substr(h, 1, 1)) - 1) * 16
              + (strpos('{_DSIR_HEX}', substr(h, 2, 1)) - 1)) % 64 AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(arr) - 1),
                 i -> md5(arr[i] || ' ' || arr[i + 1]))) AS h
        FROM d WHERE len(arr) >= 2
      )
    ),
    src AS (SELECT bucket, count(*) AS c_s FROM f GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS c_t FROM f WHERE trim(lang) = 'en'
            GROUP BY bucket),
    w AS (
      SELECT s.bucket,
             ln((coalesce(t.c_t, 0) + 1.0)
                / ((SELECT count(*) FROM f WHERE trim(lang) = 'en') + 64))
             - ln((s.c_s + 1.0) / ((SELECT count(*) FROM f) + 64)) AS wt
      FROM src s LEFT JOIN tgt t USING (bucket)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_features,
           round(sum(wt), 4) AS log_weight,
           round(sum(wt), 4) >= 0 AS target_like
    FROM f JOIN w USING (bucket)
    GROUP BY doc_id
    """,
)
def dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling — the published method for steering a raw crawl
    toward a target distribution): hashed-bigram features (md5 -> 64
    buckets), bag-of-buckets unigram models for target (here: the
    lang='en' slice, standing in for the curated target corpus) and
    source (the whole corpus), add-1 smoothing, and per-document
    log-importance-weight = sum over features of log p_target/p_source.
    DSIR then Gumbel-resamples by these weights; the weight computation
    is the distributed part and is what this operator provides, plus a
    target_like flag (weight >= 0).

    Scale: feature hashing is a narrow explode; BOTH n-gram models come
    out of ONE 64-row conditional aggregate (map-side combined, a single
    shuffle of bucket ids only — the lang='en' tally is a count_if lane
    in the same agg, and the smoothing totals are window sums over the
    64-row result, so the corpus-sized feature stream is scanned exactly
    twice: model build + scoring); the weight table (64 rows) broadcasts
    back onto the feature stream; one doc_id shuffle aggregates per-doc
    weights.  The corpus-sized feature stream is never joined to
    anything larger than 64 rows."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.md5(
            F.concat(F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1))
        ),
    )
    feats = (
        docs.filter(F.size(arr) >= 2)
        .select("doc_id", "lang", F.explode(grams).alias("h"))
        .select(
            "doc_id",
            "lang",
            F.pmod(F.conv(F.substring("h", 1, 2), 16, 10).cast("int"), F.lit(64)).alias(
                "bucket"
            ),
        )
    )
    # BOTH models in ONE pass over the feature stream: a conditional
    # count folds the target (lang='en') tally into the same map-side
    # combine as the source tally, and the grand totals come from the
    # 64-row aggregate itself (every feature has a bucket, so the bucket
    # sums ARE the totals) — the corpus is scanned exactly twice (model
    # build + scoring), not four times.
    from pyspark.sql import Window

    counts = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.count_if(F.trim(F.col("lang")) == "en").alias("c_t"),
    )
    tot = Window.partitionBy()  # 64-row frame; the global window is free
    w = counts.select(
        "bucket",
        (
            F.log((F.col("c_t") + 1.0) / (F.sum("c_t").over(tot) + 64))
            - F.log((F.col("c_s") + 1.0) / (F.sum("c_s").over(tot) + 64))
        ).alias("wt"),
    )
    return (
        feats.join(w, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.round(F.sum("wt"), 4).alias("log_weight"),
            (F.round(F.sum("wt"), 4) >= 0).alias("target_like"),
        )
        .select("doc_id", "n_features", "log_weight", "target_like")
    )


@_q(
    "ccnet_pipeline",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN ' ' || text || ' ' LIKE '% the %' OR ' ' || text || ' ' LIKE '% and %' THEN 'en'
                  WHEN ' ' || text || ' ' LIKE '% der %' OR ' ' || text || ' ' LIKE '% und %' THEN 'de'
                  WHEN ' ' || text || ' ' LIKE '% le %' OR ' ' || text || ' ' LIKE '% et %' THEN 'fr'
                  WHEN ' ' || text || ' ' LIKE '% el %' OR ' ' || text || ' ' LIKE '% y %' THEN 'es'
                  ELSE 'und' END AS lang,
             string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    tok AS (SELECT doc_id, lang, unnest(arr) AS token FROM d),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    v2 AS (
      SELECT token,
             ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM vocab)) AS logp
      FROM vocab
    ),
    s AS (
      SELECT doc_id, any_value(lang) AS lang,
             -sum(logp) / count(*) AS nll
      FROM tok JOIN v2 USING (token) GROUP BY doc_id
    ),
    samp AS (
      SELECT doc_id, lang, round(nll, 4) AS rnll FROM s WHERE doc_id % 20 = 0
    ),
    rk AS (
      SELECT lang, rnll,
             row_number() OVER (PARTITION BY lang ORDER BY rnll, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM samp
    ),
    cuts AS (
      SELECT lang,
             max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
                 THEN rnll END) AS head_cut,
             max(CASE WHEN rn = CAST(ceil(n * 2 / 3.0) AS BIGINT)
                 THEN rnll END) AS mid_cut
      FROM rk GROUP BY lang
    ),
    lab AS (
      SELECT s.doc_id, s.lang, round(s.nll, 4) AS nll,
             CASE WHEN c.head_cut IS NULL THEN 'unsampled'
                  WHEN round(s.nll, 4) <= c.head_cut THEN 'head'
                  WHEN round(s.nll, 4) <= c.mid_cut THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM s LEFT JOIN cuts c USING (lang)
    )
    SELECT doc_id, lang AS lang_detected, nll, bucket,
           bucket IN ('head', 'middle') AS keep
    FROM lab
    """,
)
def ccnet_pipeline(spark, sf_dir):
    """The CCNet curation pipeline (Wenzek et al. 2020) as ONE composed
    query — the fourth end-to-end composition flagship next to
    curated_corpus / curated_corpus_neardup / llm_corpus_pipeline:
    language is DETECTED (the stopword-marker rule of
    `lang_id_heuristic` — CCNet runs fastText lang-id; the detected-not-
    declared distinction is the composition's point), every document is
    scored by LM perplexity (`_unigram_nll`, the swappable-model proxy),
    bucketed head/middle/tail against its DETECTED language's sampled
    tercile cutoffs (`_ccnet_bucketize`, shared with `ccnet_buckets`),
    and kept iff head or middle — CCNet's published selection.  CCNet's
    paragraph-dedup step runs upstream of this (it is `paragraph_dedup`;
    composing dedup is `curated_corpus`'s job), documented rather than
    duplicated.

    Scale shape: inherited from the parts — vocab aggregate + AQE
    scoring join + one doc_id shuffle (scoring), sample-sized windows +
    a languages-row broadcast (bucketing), everything else narrow."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

    def has(w):
        return padded.like(f"% {w} %")

    guess = (
        F.when(has("the") | has("and"), "en")
        .when(has("der") | has("und"), "de")
        .when(has("le") | has("et"), "fr")
        .when(has("el") | has("y"), "es")
        .otherwise("und")
    )
    detected = docs.select("doc_id", guess.alias("lang"), "text")
    scored = _unigram_nll(detected).select(
        "doc_id", "lang", F.round("nll", 4).alias("rnll")
    )
    lab = _ccnet_bucketize(scored)
    return lab.select(
        "doc_id",
        F.col("lang").alias("lang_detected"),
        "nll",
        "bucket",
        F.col("bucket").isin("head", "middle").alias("keep"),
    )


def _ccnet_bucketize(scored):
    """Shared CCNet tercile labeling over a scored (doc_id, lang, rnll)
    frame: deterministic sampled cutoffs (doc_id % 20), per-lang order
    statistics at ceil(n/3)/ceil(2n/3), one-row-per-language cuts frame
    broadcast back (language inventory is a world constant — the
    allowlisted F.broadcast(cuts) site).  Used by ccnet_buckets (declared
    lang) and ccnet_pipeline (detected lang)."""
    from pyspark.sql import Window

    samp = scored.filter(F.col("doc_id") % 20 == 0)
    wl = Window.partitionBy("lang").orderBy("rnll", "doc_id")
    ranked = samp.select(
        "lang",
        "rnll",
        F.row_number().over(wl).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    cuts = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") / 3.0), F.col("rnll"))
        ).alias("head_cut"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 2 / 3.0), F.col("rnll"))
        ).alias("mid_cut"),
    )
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id",
        "lang",
        F.col("rnll").alias("nll"),
        F.when(F.col("head_cut").isNull(), "unsampled")
        .when(F.col("rnll") <= F.col("head_cut"), "head")
        .when(F.col("rnll") <= F.col("mid_cut"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@_q(
    "ccnet_buckets",
    """
    WITH d AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    tok AS (SELECT doc_id, lang, unnest(arr) AS token FROM d),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    v2 AS (
      SELECT token,
             ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM vocab)) AS logp
      FROM vocab
    ),
    s AS (
      SELECT doc_id, any_value(lang) AS lang,
             -sum(logp) / count(*) AS nll
      FROM tok JOIN v2 USING (token) GROUP BY doc_id
    ),
    samp AS (
      SELECT doc_id, lang, round(nll, 4) AS rnll FROM s WHERE doc_id % 20 = 0
    ),
    rk AS (
      SELECT lang, rnll,
             row_number() OVER (PARTITION BY lang ORDER BY rnll, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM samp
    ),
    cuts AS (
      SELECT lang,
             max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
                 THEN rnll END) AS head_cut,
             max(CASE WHEN rn = CAST(ceil(n * 2 / 3.0) AS BIGINT)
                 THEN rnll END) AS mid_cut
      FROM rk GROUP BY lang
    )
    SELECT s.doc_id, s.lang, round(s.nll, 4) AS nll,
           CASE WHEN c.head_cut IS NULL THEN 'unsampled'
                WHEN round(s.nll, 4) <= c.head_cut THEN 'head'
                WHEN round(s.nll, 4) <= c.mid_cut THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM s LEFT JOIN cuts c USING (lang)
    """,
)
def ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): score
    every document's LM perplexity (the shared unigram proxy,
    _unigram_nll), estimate PER-LANGUAGE tercile cutoffs on a
    deterministic 5% sample (doc_id % 20 == 0 — CCNet itself computes
    its cutoffs on a sampled slice, not the full corpus), then label
    each document head/middle/tail against its language's cutoffs
    map-side.  Cutoffs are the sample's order statistics at ranks
    ceil(n/3) and ceil(2n/3) under the total order (nll, doc_id) — a
    deterministic discrete quantile both engines compute identically.
    Languages absent from the sample label as 'unsampled'.

    Scale: scoring is the two-pass _unigram_nll shape; the sample frame
    is 5% of one row per doc, its per-lang windows are sample-sized; the
    cutoff table (one row per language) broadcasts back onto the scored
    stream — no corpus-sized window partitioned by lang anywhere, which
    is exactly why the cutoffs come from a sample: ntile over
    PARTITION BY lang on the full corpus would put one language's
    billions of rows through a single window partition."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    scored = _unigram_nll(docs).select(
        "doc_id", "lang", F.round("nll", 4).alias("rnll")
    )
    return _ccnet_bucketize(scored)


#: training-sequence length (tokens) for the packing operator
_SEQ_LEN = 64


@_q(
    "sequence_pack",
    f"""
    WITH d AS (
      SELECT doc_id, source, len(string_split(trim(text), ' ')) AS n_tok
      FROM documents WHERE trim(text) != ''
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS doc_start
      FROM d
    ),
    e AS (
      SELECT doc_id, source, n_tok, doc_start,
             unnest(generate_series(doc_start // {_SEQ_LEN},
                                    (doc_start + n_tok - 1) // {_SEQ_LEN}))
               AS seq_id
      FROM c
    )
    SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(0, doc_start - seq_id * {_SEQ_LEN}) AS BIGINT)
             AS seq_off,
           CAST(greatest(0, seq_id * {_SEQ_LEN} - doc_start) + 1 AS BIGINT)
             AS tok_start,
           CAST(least(doc_start + n_tok, (seq_id + 1) * {_SEQ_LEN})
                - greatest(doc_start, seq_id * {_SEQ_LEN}) AS BIGINT)
             AS tok_len
    FROM e
    """,
)
def sequence_pack(spark, sf_dir):
    """Training-sequence packing — the last hop of an LLM data pipeline:
    concatenate documents end-to-end and cut fixed-length training
    windows (_SEQ_LEN = 64 tokens), emitting for every (sequence, document)
    overlap the slice map (seq_id, doc_id, offset-in-sequence, token
    range in the doc) a loader needs to materialize packed batches with
    document-boundary/attention-mask info.  Packing is PER SOURCE SHARD
    (cumulative token offsets over a window partitioned by source,
    ordered by doc_id) — the standard practice: a global pack order
    would serialize the whole corpus through one partition, while
    per-shard packing keeps determinism AND parallelism; a doc spanning
    a boundary explodes into one row per sequence it touches.

    Scale: exactly ONE exchange (the source-shard window); the
    boundary explode is narrow; shards are bounded by construction
    (a shard = one crawl file / WARC segment in production), so the
    running-sum window never sees unbounded partitions."""
    from pyspark.sql import Window

    L = _SEQ_LEN
    d = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.select(
        "doc_id",
        "source",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long").alias("doc_start"),
    )
    first_seq = F.floor(F.col("doc_start") / L).cast("long")
    last_seq = F.floor((F.col("doc_start") + F.col("n_tok") - 1) / L).cast("long")
    e = c.select(
        "doc_id",
        "source",
        "n_tok",
        "doc_start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * L
    seq_hi = (F.col("seq_id") + 1) * L
    doc_end = F.col("doc_start") + F.col("n_tok")
    return e.select(
        "source",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        F.greatest(F.lit(0), F.col("doc_start") - seq_lo)
        .cast("long")
        .alias("seq_off"),
        (F.greatest(F.lit(0), seq_lo - F.col("doc_start")) + 1)
        .cast("long")
        .alias("tok_start"),
        (F.least(doc_end, seq_hi) - F.greatest(F.col("doc_start"), seq_lo))
        .cast("long")
        .alias("tok_len"),
    )


@_q(
    "host_reputation_filter",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 < 4 THEN 'hot' ELSE source END AS host,
             text
      FROM documents WHERE trim(text) != ''
    ),
    p AS (
      SELECT doc_id, host,
             CASE WHEN doc_id % 3 = 0 AND len(host) = 5
                  THEN 'host boilerplate notice ' || host ELSE text END AS t
      FROM d
    ),
    s AS (
      SELECT host, count(*) AS host_docs,
             avg(len(string_split(trim(t), ' '))) AS aw,
             1.0 - (count(DISTINCT md5(t)) * 1.0 / count(*)) AS dup
      FROM p GROUP BY host
    )
    SELECT p.doc_id, p.host,
           CAST(s.host_docs AS BIGINT) AS host_docs,
           round(s.aw, 4) AS avg_words,
           round(s.dup, 4) AS dup_rate
    FROM p JOIN s ON p.host = s.host
    WHERE s.aw >= 52.0 AND s.dup <= 0.10
    """,
)
def host_reputation_filter(spark, sf_dir):
    """Host-level reputation filtering — the FineWeb/RefinedWeb-style
    curation lane that judges a whole HOST, not a document: per-host
    mean word count and within-host duplicate rate (the boilerplate-farm
    signal), verdict joined back so every document from a failing host
    drops at once.  Deterministic boilerplate is planted on the
    five-char hosts (doc_id % 3 == 0 rows share one host-level string;
    3 is coprime with the 20-way source split, so every such host is hit)
    so both verdict lanes are active: those hosts fail the dup-rate cap,
    and the word-count bar splits the remaining hosts on their real
    fixture means.

    Scale shape: the host dimension is DATA-DEPENDENT (a 10^12-doc crawl
    has ~10^8 registered hosts), so — unlike the fixed-size codebooks
    and rule tables this file broadcasts by hint — the verdict join-back
    carries NO F.broadcast(): AQE measures the reputable-host frame at
    runtime and broadcasts it when it fits (it does at this sf,
    plan-gated) or falls back to a shuffled hash join on `host` at
    scale, where the corpus side is already hash-partitioned by the
    groupBy's own exchange.  The rollup itself is one map-combined
    aggregate (one row per host); nothing corpus-sized crosses the
    driver.  Both quality signals are exact rationals (integer word
    counts, distinct-over-count), so the DuckDB oracle hash-matches
    without fixed-point tricks."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    host = F.when(F.col("doc_id") % 10 < 4, F.lit("hot")).otherwise(F.col("source"))
    planted = F.when(
        (F.col("doc_id") % 3 == 0) & (F.length(F.col("host")) == 5),
        F.concat(F.lit("host boilerplate notice "), F.col("host")),
    ).otherwise(F.col("text"))
    p = docs.select("doc_id", host.alias("host"), "text").select(
        "doc_id", "host", planted.alias("t")
    )
    words = F.size(F.split(F.trim(F.col("t")), " "))
    stats = p.groupBy("host").agg(
        F.count(F.lit(1)).alias("host_docs"),
        F.avg(words).alias("aw"),
        (
            F.lit(1.0)
            - F.count_distinct(F.md5("t")).cast("double") / F.count(F.lit(1))
        ).alias("dup"),
    )
    reputable = stats.filter((F.col("aw") >= 52.0) & (F.col("dup") <= 0.10))
    return p.join(reputable, "host").select(
        "doc_id",
        "host",
        F.col("host_docs").cast("long").alias("host_docs"),
        F.round("aw", 4).alias("avg_words"),
        F.round("dup", 4).alias("dup_rate"),
    )


#: URL blocklist (UT1-style category list, tiny stand-in): exact-host
#: rules and wildcard-subdomain suffix rules.  At production scale the
#: list is ~4M domains — then it becomes a broadcast-hash-join table on
#: the registered domain (exact tier) plus a reversed-domain prefix
#: match (suffix tier); the rule semantics below are identical.
_URL_BLOCKLIST = [
    ("exact", "src3.example.com"),
    ("exact", "gambling-portal.example.net"),
    ("suffix", ".ads-hub.example.com"),
    ("suffix", ".tracker.example.org"),
]


@_q(
    "url_blocklist_filter",
    """
    WITH pages AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'media.ads-hub.example.com'
                  WHEN doc_id % 10 < 4 THEN 'hot.example.com'
                  ELSE source || '.example.com' END AS host
      FROM documents
    )
    SELECT doc_id, 'https://' || host || '/doc-' || doc_id AS url, host
    FROM pages p
    WHERE NOT EXISTS (
      SELECT 1 FROM (VALUES
        ('exact', 'src3.example.com'),
        ('exact', 'gambling-portal.example.net'),
        ('suffix', '.ads-hub.example.com'),
        ('suffix', '.tracker.example.org')) AS b(kind, pattern)
      WHERE (b.kind = 'exact' AND p.host = b.pattern)
         OR (b.kind = 'suffix' AND ends_with(p.host, b.pattern))
    )
    """,
)
def url_blocklist_filter(spark, sf_dir):
    """URL/domain blocklist filtering — the first gate of
    RefinedWeb/FineWeb-style curation (UT1-category blocklists): parse
    the host out of each page URL and drop pages whose host matches an
    exact-host rule or falls under a wildcard-subdomain suffix rule.
    Hosts are synthesized deterministically (doc_id%11==0 pages sit on a
    blocked ad subdomain, giving the suffix tier real positives; src3
    pages exercise the exact tier; two rules match nothing so the
    negatives are real too).  Returns the surviving (doc_id, url, host).

    Scale: the blocklist broadcasts (left_anti against a 4-row — in
    production ~4M-row — rules frame; the OR-of-kinds predicate makes it
    a broadcast nested-loop, and at the 4M scale the exact tier splits
    into a broadcast HASH anti-join on host with only the suffix tier
    left to the nested loop over reversed-domain prefixes); the corpus
    side never shuffles."""
    host = (
        F.when(F.col("doc_id") % 11 == 0, F.lit("media.ads-hub.example.com"))
        .when(F.col("doc_id") % 10 < 4, F.lit("hot.example.com"))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    )
    pages = _docs(spark, sf_dir).select("doc_id", host.alias("host"))
    rules = spark.createDataFrame(_URL_BLOCKLIST, "kind string, pattern string")
    match = ((F.col("kind") == "exact") & (F.col("host") == F.col("pattern"))) | (
        (F.col("kind") == "suffix") & F.col("host").endswith(F.col("pattern"))
    )
    kept = pages.join(F.broadcast(rules), match, "left_anti")
    return kept.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/doc-"), F.col("doc_id")
        ).alias("url"),
        "host",
    )


def _funnel_sql():
    """DuckDB twin of filter_funnel_report: per-doc g/c/u rule flags built
    from the SAME SQL fragments as the three standalone rule queries, one
    conditional count aggregate, three cumulative stage rows."""
    stage = (
        "SELECT CAST({no} AS INT) AS stage_no, '{name}' AS stage,\n"
        "           CAST({nin} AS BIGINT) AS n_in,\n"
        "           CAST({d} AS BIGINT) AS n_dropped,\n"
        "           CAST({nin} - {d} AS BIGINT) AS n_out,\n"
        "           CASE WHEN {nin} > 0 THEN CAST({d} AS DOUBLE) / ({nin})"
        " END AS drop_rate\n    FROM a"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, source, text, string_split(trim(text), ' ') AS toks,
             string_split(trim(text), ' ') AS arr
      FROM documents WHERE trim(text) != ''
    ),
    l0 AS (SELECT *, {_SQL_LINES0} AS lines0 FROM d),
    l AS (
      SELECT *, CASE
               WHEN doc_id % 7 = 0
                 THEN list_transform(lines0, x -> x || '.')
               WHEN doc_id % 7 = 1
                 THEN list_append(list_transform(lines0, x -> x || '.'),
                                  'please enable javascript to view comments.')
               WHEN doc_id % 7 = 2
                 THEN list_append(lines0, 'lorem ipsum dolor sit amet.')
               WHEN doc_id % 7 = 3
                 THEN list_append(list_transform(lines0, x -> x || '.'),
                                  'config {{ display mode }} end.')
               ELSE lines0
             END AS lines
      FROM l0
    ),
    flags AS (
      SELECT
        (len(toks) BETWEEN 50 AND 100000) AS g,
        len(list_filter(lines, x ->
              (ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?'))
              AND len(string_split(x, ' ')) >= 5
              AND NOT contains(lower(x), 'javascript'))) >= 3
          AND NOT contains(lower(array_to_string(lines, ' ')), 'lorem ipsum')
          AND NOT contains(array_to_string(lines, ' '), '{{') AS c,
        NOT (h = 'src3.example.com' OR h = 'gambling-portal.example.net'
             OR ends_with(h, '.ads-hub.example.com')
             OR ends_with(h, '.tracker.example.org')) AS u
      FROM (SELECT *,
              CASE WHEN doc_id % 11 = 0 THEN 'media.ads-hub.example.com'
                   WHEN doc_id % 10 < 4 THEN 'hot.example.com'
                   ELSE source || '.example.com' END AS h
            FROM l)
    ),
    a AS (
      SELECT count(*) AS n0,
             coalesce(sum(CASE WHEN NOT g THEN 1 END), 0) AS d1,
             coalesce(sum(CASE WHEN g AND NOT c THEN 1 END), 0) AS d2,
             coalesce(sum(CASE WHEN g AND c AND NOT u THEN 1 END), 0) AS d3
      FROM flags
    )
    {stage.format(no=1, name="gopher_word_count", nin="n0", d="d1")}
    UNION ALL {stage.format(no=2, name="c4_rules", nin="n0 - d1", d="d2")}
    UNION ALL {stage.format(no=3, name="url_blocklist", nin="n0 - d1 - d2", d="d3")}
    """


@_q("filter_funnel_report", _funnel_sql())
def filter_funnel_report(spark, sf_dir):
    """Filter attrition funnel — the audit a curation team runs BEFORE
    committing a filter stack to a 10^12-doc corpus: apply the quality
    gates in pipeline order (Gopher word rules → C4 line rules → URL
    blocklist) and report, per stage, how many documents enter, how many
    that stage alone drops, how many survive, and the stage drop rate.
    Rule expressions are THE SAME shared builders the standalone queries
    use (`quality.gopher_signals`'s rules dict, `_c4_rule_exprs`, the
    `_URL_BLOCKLIST` patterns), so the funnel provably audits the filters
    that actually run — not a re-implementation that can drift.  The
    Gopher stage is the word-count rule alone: the synthetic corpus
    contains no English stopwords, so the FULL bundle's required-stopword
    rule drops 100% of documents and every downstream stage would read 0
    (gopher_quality_filter shows the per-rule breakdown); the funnel
    mechanics are identical with the full `keep` — swap the rule column.

    Scale shape: all three verdicts are narrow map-side expressions
    computed in ONE corpus scan, and the funnel is ONE conditional count
    aggregate whose output is 4 integers regardless of corpus size
    (map-side combine; the only Exchange is the SinglePartition of those
    4 values — plan-gated `filter_funnel_one_bounded_agg`); the 3 stage
    rows explode from that 1-row frame.  The 4-row blocklist is folded
    into a map-side predicate here (exactly what the broadcast anti-join
    of `url_blocklist_filter` compiles to at this rule count); the 4M-row
    production blocklist keeps the join form."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    _, gopher_rules, _ = _gopher_signals("text")
    g = gopher_rules["pass_word_count"]
    *_, c = _c4_rule_exprs()
    host = (
        F.when(F.col("doc_id") % 11 == 0, F.lit("media.ads-hub.example.com"))
        .when(F.col("doc_id") % 10 < 4, F.lit("hot.example.com"))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    )
    blocked = F.lit(False)
    for kind, pattern in _URL_BLOCKLIST:
        hit = host == pattern if kind == "exact" else host.endswith(pattern)
        blocked = blocked | hit
    u = ~blocked
    agg = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((~g).cast("long")).alias("d1"),
        F.sum((g & ~c).cast("long")).alias("d2"),
        F.sum((g & c & ~u).cast("long")).alias("d3"),
    )
    stages = [
        (1, "gopher_word_count", F.col("n0"), F.col("d1")),
        (2, "c4_rules", F.col("n0") - F.col("d1"), F.col("d2")),
        (3, "url_blocklist", F.col("n0") - F.col("d1") - F.col("d2"), F.col("d3")),
    ]
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(no).cast("int").alias("stage_no"),
                    F.lit(name).alias("stage"),
                    n_in.cast("long").alias("n_in"),
                    d.cast("long").alias("n_dropped"),
                )
                for no, name, n_in, d in stages
            ]
        )
    ).alias("s")
    return agg.select(rows).select(
        F.col("s.stage_no").alias("stage_no"),
        F.col("s.stage").alias("stage"),
        F.col("s.n_in").alias("n_in"),
        F.col("s.n_dropped").alias("n_dropped"),
        (F.col("s.n_in") - F.col("s.n_dropped")).alias("n_out"),
        F.when(
            F.col("s.n_in") > 0,
            F.col("s.n_dropped").cast("double") / F.col("s.n_in"),
        ).alias("drop_rate"),
    )


#: Gopher repetition thresholds (Rae et al. 2021 Table A1): max fraction
#: of characters in the most frequent n-gram (n=2,3,4) and in duplicated
#: n-grams (n=5,10)
_GOPHER_REP = {"top": {2: 0.20, 3: 0.18, 4: 0.16}, "dup": {5: 0.15, 10: 0.10}}


def _gr_grams_sql(n):
    return (
        f"list_transform(generate_series(1, len(arr) - {n - 1}),"
        f" i -> array_to_string(list_slice(arr, i, i + {n - 1}), ' '))"
    )


@_q(
    "gopher_repetition_rules",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr,
             len(trim(text)) AS nchars
      FROM documents WHERE trim(text) != ''
    ),
    t AS (
      SELECT doc_id, nchars, lane.n AS n,
             unnest(CASE lane.n WHEN 2 THEN _g2 WHEN 3 THEN _g3
                    WHEN 4 THEN _g4 WHEN 5 THEN _g5 ELSE _g10 END) AS gram
      FROM (
        SELECT doc_id, nchars,
               {_gr_grams_sql(2)} AS _g2, {_gr_grams_sql(3)} AS _g3,
               {_gr_grams_sql(4)} AS _g4, {_gr_grams_sql(5)} AS _g5,
               {_gr_grams_sql(10)} AS _g10
        FROM d WHERE len(arr) >= 10
      ), (VALUES (2), (3), (4), (5), (10)) AS lane(n)
    ),
    g AS (
      SELECT doc_id, n, gram, max(nchars) AS nchars,
             count(*) AS cnt, len(gram) AS glen
      FROM t GROUP BY doc_id, n, gram
    ),
    per_n AS (
      SELECT doc_id, n, max(nchars) AS nchars,
             max(cnt * glen) AS top_chars,
             coalesce(sum(cnt * glen) FILTER (cnt > 1), 0) AS dup_chars
      FROM g GROUP BY doc_id, n
    )
    SELECT doc_id,
           round(max(CASE WHEN n = 2 THEN top_chars END) * 1.0
                 / max(nchars), 4) AS top2_frac,
           round(max(CASE WHEN n = 3 THEN top_chars END) * 1.0
                 / max(nchars), 4) AS top3_frac,
           round(max(CASE WHEN n = 4 THEN top_chars END) * 1.0
                 / max(nchars), 4) AS top4_frac,
           round(max(CASE WHEN n = 5 THEN dup_chars END) * 1.0
                 / max(nchars), 4) AS dup5_frac,
           round(max(CASE WHEN n = 10 THEN dup_chars END) * 1.0
                 / max(nchars), 4) AS dup10_frac,
           (round(max(CASE WHEN n = 2 THEN top_chars END) * 1.0 / max(nchars), 4)
              <= {_GOPHER_REP["top"][2]}
            AND round(max(CASE WHEN n = 3 THEN top_chars END) * 1.0 / max(nchars), 4)
              <= {_GOPHER_REP["top"][3]}
            AND round(max(CASE WHEN n = 4 THEN top_chars END) * 1.0 / max(nchars), 4)
              <= {_GOPHER_REP["top"][4]}
            AND round(max(CASE WHEN n = 5 THEN dup_chars END) * 1.0 / max(nchars), 4)
              <= {_GOPHER_REP["dup"][5]}
            AND round(max(CASE WHEN n = 10 THEN dup_chars END) * 1.0 / max(nchars), 4)
              <= {_GOPHER_REP["dup"][10]}) AS keep
    FROM per_n GROUP BY doc_id
    """,
)
def gopher_repetition_rules(spark, sf_dir):
    """Gopher/MassiveText repetition rules (Rae et al. 2021 Table A1 —
    the remaining published signal family): fraction of characters in
    the MOST FREQUENT n-gram (n=2,3,4; reject above 0.20/0.18/0.16) and
    in DUPLICATED n-grams (n=5,10; reject above 0.15/0.10).  Character
    fractions are computed as occurrences x gram-string-length over the
    document's character count (the standard reproduction of the
    published definition; overlaps are counted per occurrence).

    Scale: all five lanes ride ONE explode of a combined (n, gram)
    array; the per-(doc, n, gram) count, the per-(doc, n) reduction and
    the final per-doc pivot are three map-side-combined linear
    aggregations — no O(len^2) per-row expression, no join, and the
    gram text leaves the row only keyed by (doc_id, n, gram) for the
    count.  Unlike repetition_filter's map-only distinct ratio, the
    top-gram mode genuinely needs the count agg; three bounded linear
    shuffles is the honest 100-TB plan."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    arr = F.split(F.trim(F.col("text")), " ")

    def grams(n):
        return F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"), F.array_join(F.slice(arr, i, n), " ").alias("gram")
            ),
        )

    lanes = F.flatten(F.array(*[grams(n) for n in (2, 3, 4, 5, 10)]))
    t = (
        docs.filter(F.size(arr) >= 10)
        .select(
            "doc_id",
            F.length(F.trim(F.col("text"))).alias("nchars"),
            F.explode(lanes).alias("s"),
        )
        .select("doc_id", "nchars", "s.n", "s.gram")
    )
    g = t.groupBy("doc_id", "n", "gram").agg(
        F.max("nchars").alias("nchars"),
        F.count(F.lit(1)).alias("cnt"),
    )
    glen = F.length(F.col("gram"))
    per_n = g.groupBy("doc_id", "n").agg(
        F.max("nchars").alias("nchars"),
        F.max(F.col("cnt") * glen).alias("top_chars"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * glen)), F.lit(0)
        ).alias("dup_chars"),
    )

    def lane(n, col):
        return F.round(
            F.max(F.when(F.col("n") == n, F.col(col)))
            / F.max("nchars").cast("double"),
            4,
        )

    fracs = {
        "top2_frac": lane(2, "top_chars"),
        "top3_frac": lane(3, "top_chars"),
        "top4_frac": lane(4, "top_chars"),
        "dup5_frac": lane(5, "dup_chars"),
        "dup10_frac": lane(10, "dup_chars"),
    }
    keep = (
        (fracs["top2_frac"] <= _GOPHER_REP["top"][2])
        & (fracs["top3_frac"] <= _GOPHER_REP["top"][3])
        & (fracs["top4_frac"] <= _GOPHER_REP["top"][4])
        & (fracs["dup5_frac"] <= _GOPHER_REP["dup"][5])
        & (fracs["dup10_frac"] <= _GOPHER_REP["dup"][10])
    )
    return per_n.groupBy("doc_id").agg(
        *[expr.alias(name) for name, expr in fracs.items()],
        keep.alias("keep"),
    )


@_q(
    "semdedup_embeddings",
    """
    WITH RECURSIVE c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             list_dot_product(e.embedding, c.cvec)
             / (sqrt(list_dot_product(e.embedding, e.embedding))
                * sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
      FROM embeddings e CROSS JOIN c
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.embedding, b.embedding)
              / (sqrt(list_dot_product(a.embedding, a.embedding))
                 * sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.4
    ),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION ALL SELECT vec_b, vec_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS vec_id FROM edges),
    reach AS (
      SELECT vec_id, vec_id AS label FROM nodes
      UNION
      SELECT e2.b AS vec_id, r.label FROM reach r JOIN edges e2 ON e2.a = r.vec_id
    ),
    clusters AS (SELECT vec_id, min(label) AS cluster_id FROM reach GROUP BY vec_id)
    SELECT v.vec_id,
           CAST(coalesce(cl.cluster_id, v.vec_id) AS BIGINT) AS sem_cluster,
           (cl.cluster_id IS NULL OR cl.cluster_id = v.vec_id) AS keep
    FROM embeddings v LEFT JOIN clusters cl USING (vec_id)
    """,
)
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (textops.semdedup): coarse-cluster the embedding space against the
    deterministic vec_id<8 codebook, compare cosines only within a
    cluster, connect pairs >= 0.4 into components, keep each component's
    min-id member.  The threshold matches embedding_near_dup's so the
    semantic-dup graph is non-trivially populated on this corpus.

    Scale: see textops.semdedup — assignment is a map-only inlined-
    codebook pass, the quadratic pair join is bounded per cluster (the
    paper's codebook grows with the corpus), CC runs on the tiny dup
    graph, and the label frame broadcasts back."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    return textops.semdedup(emb, centroids, threshold=0.4)


#: the unrolled 3-iteration PageRank CTE chain (n, t, e, r0..r3),
#: the pagerank_links oracle
_PAGERANK_CTES = """
    n AS (SELECT count(*) AS n FROM documents),
    t AS (
      SELECT doc_id,
             list_filter(list_distinct([
               (doc_id * 7 + 3) % n.n,
               (doc_id * 13 + 11) % n.n,
               (doc_id + 1) % n.n]), v -> v != doc_id) AS tgts
      FROM documents CROSS JOIN n
    ),
    e AS (SELECT doc_id AS src, len(tgts) AS deg, unnest(tgts) AS dst FROM t),
    r0 AS (SELECT doc_id, 1.0 / n.n AS rank FROM documents CROSS JOIN n),
    c1 AS (SELECT dst, sum(r.rank / e.deg) AS c FROM e
           JOIN r0 r ON r.doc_id = e.src GROUP BY dst),
    r1 AS (SELECT d.doc_id, 0.15 / n.n + 0.85 * coalesce(c1.c, 0) AS rank
           FROM documents d CROSS JOIN n LEFT JOIN c1 ON c1.dst = d.doc_id),
    c2 AS (SELECT dst, sum(r.rank / e.deg) AS c FROM e
           JOIN r1 r ON r.doc_id = e.src GROUP BY dst),
    r2 AS (SELECT d.doc_id, 0.15 / n.n + 0.85 * coalesce(c2.c, 0) AS rank
           FROM documents d CROSS JOIN n LEFT JOIN c2 ON c2.dst = d.doc_id),
    c3 AS (SELECT dst, sum(r.rank / e.deg) AS c FROM e
           JOIN r2 r ON r.doc_id = e.src GROUP BY dst),
    r3 AS (SELECT d.doc_id, 0.15 / n.n + 0.85 * coalesce(c3.c, 0) AS rank
           FROM documents d CROSS JOIN n LEFT JOIN c3 ON c3.dst = d.doc_id)
"""


@_q(
    "pagerank_links",
    f"""
    WITH {_PAGERANK_CTES}
    SELECT r3.doc_id, round(r3.rank * n.n, 4) AS rank_norm
    FROM r3 CROSS JOIN n
    """,
)
def pagerank_links(spark, sf_dir):
    """Fixed-iteration PageRank over the crawl link graph (Page et al.
    1999; damping 0.85, 3 power iterations) — the link-centrality signal
    web-corpus curation uses for source weighting (e.g. OPIC/harmonic
    ranks in Common Crawl derivatives).  The edge list is synthesized
    deterministically (each doc links to 3 modular targets, self-loops
    dropped, duplicates merged — so out-degrees genuinely vary);
    rank_norm is the final rank scaled by N (≈1.0 for an average page).

    Scale: the edge list carries (src, deg, dst) with deg computed
    map-side from the target array (no out-degree aggregation pass);
    each iteration is one shuffle (contributions grouped by dst) plus a
    left join back onto the node list — the textbook distributed
    PageRank loop, k exchanges for k iterations, nothing quadratic.
    The 1-row count frame broadcasts."""
    r = _pagerank_ranks(spark, sf_dir)
    return r.select(
        "doc_id", F.round(F.col("rank") * F.col("n"), 4).alias("rank_norm")
    )


def _pagerank_ranks(spark, sf_dir, iters=3):
    """(doc_id, n, rank) after ``iters`` power iterations — the loop
    behind pagerank_links (mirrors the _PAGERANK_CTES oracle chain)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    nrow = docs.agg(F.count(F.lit(1)).alias("n"))
    base = docs.crossJoin(F.broadcast(nrow))
    tgts = F.filter(
        F.array_distinct(
            F.array(
                (F.col("doc_id") * 7 + 3) % F.col("n"),
                (F.col("doc_id") * 13 + 11) % F.col("n"),
                (F.col("doc_id") + 1) % F.col("n"),
            )
        ),
        lambda v: v != F.col("doc_id"),
    )
    edges = base.select(
        F.col("doc_id").alias("src"),
        F.size(tgts).alias("deg"),
        F.explode(tgts).alias("dst"),
    )
    r = base.select("doc_id", "n", (F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(
                r.select(F.col("doc_id").alias("src"), F.col("rank").alias("r_src")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r_src") / F.col("deg")).alias("c"))
        )
        r = (
            base.join(contrib, base.doc_id == contrib.dst, "left")
            .select(
                "doc_id",
                "n",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return r


@_q(
    "curated_corpus",
    f"""
    WITH gop AS (
      SELECT doc_id, len(string_split(trim(text), ' ')) AS n_words
      FROM documents WHERE trim(text) != ''
    ),
    canon AS (
      SELECT doc_id, md5(text) AS text_hash,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents
    )
    SELECT d.doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(d.text || ' contact reporter' || (d.doc_id % 20) ||
                              '@example.com', '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS text,
           nullif(trim(d.lang), '') AS lang,
           CAST(g.n_words AS BIGINT) AS n_words
    FROM documents d
    JOIN gop g ON g.doc_id = d.doc_id
    JOIN canon c ON c.doc_id = d.doc_id
    WHERE g.n_words >= 30            -- quality gate (word-count rule)
      AND c.canonical_id = d.doc_id  -- exact-dup removal, canonical wins
    """,
)
def curated_corpus(spark, sf_dir):
    """The end-to-end curation pipeline a training-data user actually runs,
    composed from this engine's own operators in the standard order:
    quality gate (word-count rule from the Gopher bundle) -> exact-dedup
    keeping the canonical document (min doc_id per content hash, the
    dedup_exact/window pattern) -> PII scrub on the surviving text (same
    pattern set as pii_scrub; a planted email proves the redaction ran).
    One query = the final corpus slice: (doc_id, scrubbed text, lang,
    n_words).

    Scale shape: the whole pipeline costs EXACTLY ONE shuffle — the
    canonical-id window over md5(text) runs on the FULL corpus (a
    gated-out doc can still be the canonical copy, matching the oracle's
    ungated canon CTE), and the quality gate + canonical filter + scrub
    are all narrow operations applied AFTER that window, so there is no
    join anywhere.  Enforced by the plan gate (PLANS.md
    §curated_corpus_one_exchange: exactly one Exchange, zero joins)."""
    from pyspark.sql import Window

    n_words = F.size(F.split(F.trim(F.col("text")), " "))
    survivors = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "text",
            "lang",
            F.min("doc_id")
            .over(Window.partitionBy(F.md5(F.col("text"))))
            .alias("canonical_id"),
        )
        .filter(
            (F.col("canonical_id") == F.col("doc_id"))
            & (F.trim(F.col("text")) != "")
        )
        .withColumn("n_words", n_words)
        .filter(F.col("n_words") >= 30)
    )
    planted = F.concat(
        F.col("text"),
        F.lit(" contact reporter"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit("@example.com"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return survivors.select(
        "doc_id",
        scrubbed.alias("text"),
        F.nullif(F.trim(F.col("lang")), F.lit("")).alias("lang"),
        F.col("n_words").cast("long").alias("n_words"),
    )


@_q(
    "curated_corpus_neardup",
    f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < 300 AND trim(text) != ''
    ),
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs),
    minh0 AS (
      SELECT doc_id, a,
             min(substr(md5(cast(a AS varchar) || ':' || token), 1, 8))  AS m0,
             min(substr(md5(cast(a AS varchar) || ':' || token), 9, 8))  AS m1,
             min(substr(md5(cast(a AS varchar) || ':' || token), 17, 8)) AS m2,
             min(substr(md5(cast(a AS varchar) || ':' || token), 25, 8)) AS m3
      FROM tok, range(4) r(a) GROUP BY doc_id, a
    ),
    minh AS (
      SELECT doc_id, a * 4 + lb.b AS k,
             CASE lb.b WHEN 0 THEN m0 WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END AS mh
      FROM minh0, range(4) lb(b)
    ),
    bands AS (
      SELECT doc_id, cast(k // 4 AS int) AS band,
             md5(string_agg(mh, '' ORDER BY k)) AS bkey
      FROM minh GROUP BY doc_id, cast(k // 4 AS int)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT doc_a, doc_b, count(*) AS shared
      FROM cand
      JOIN tok ta ON ta.doc_id = doc_a
      JOIN tok tb ON tb.doc_id = doc_b AND ta.token = tb.token
      GROUP BY doc_a, doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS label FROM nodes
      UNION
      SELECT e.b AS doc_id, r.label FROM reach r JOIN edges e ON e.a = r.doc_id
    ),
    clusters AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT d.doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(d.text || ' contact reporter' || (d.doc_id % 20) ||
                              '@example.com', '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS text,
           CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM docs d LEFT JOIN clusters c USING (doc_id)
    WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id
    """,
)
def curated_corpus_neardup(spark, sf_dir):
    """The NEAR-dup curation flagship — the pipeline a training-data team
    actually runs, composed end-to-end from this engine's own green
    stages: MinHash(16) -> 4x4 LSH banding -> bucket-join candidates ->
    exact-Jaccard verify >= 0.5 (textops.minhash_lsh_pairs) -> connected
    components over the verified pairs (textops.connected_components) ->
    keep each cluster's canonical document (min doc_id; unclustered docs
    are their own canonical) -> PII scrub on the survivors.  Output:
    (doc_id, scrubbed text, cluster_id).  Bounded to doc_id < 300 like
    minhash_lsh_pairs so the DuckDB oracle (same minhash lanes + a
    recursive-CTE transitive closure) stays closed-form; at scale the
    bound is dropped — every stage is the bucketed/bounded-verify path.

    Exchange audit (sf-independent shape): tokenization explode is
    narrow; minhash agg 1 exchange; banding agg 1; candidate bucket
    equi-join 1 (hash on (band, bkey)); verify join shuffles only
    LSH-collision docs (size lookups semi-joined down to the collision
    set inside minhash_lsh_pairs); CC is one exchange per graph-diameter
    round on the verified-pair set; the final survivors filter is an
    UNHINTED left join against cluster labels — their count is the
    corpus' dup rate (30-50% on real crawls), so the broadcast decision
    is left to AQE's runtime size measurement — + map-only scrub.  The
    corpus-sized side is shuffled a bounded constant number of times;
    nothing quadratic outside verified LSH collisions."""
    docs = _docs(spark, sf_dir).filter(
        (F.col("doc_id") < 300) & (F.trim(F.col("text")) != "")
    )
    pairs = textops.minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)
    clusters = textops.connected_components(pairs, a_col="doc_a", b_col="doc_b")
    # clusters holds one row per near-duplicate document.  That count is
    # DATA-DEPENDENT — real web crawls run 30-50% near-dup, so a forced
    # F.broadcast() here would ship a corpus-fraction frame to the driver
    # at 10^12 docs.  No hint: the join shuffles once and AQE converts it
    # to a broadcast join at runtime when the measured label-frame size is
    # genuinely small (localCheckpoint does not hide the exchange stats
    # AQE reads).
    survivors = docs.join(clusters, "doc_id", "left").filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    planted = F.concat(
        F.col("text"),
        F.lit(" contact reporter"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit("@example.com"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return survivors.select(
        "doc_id",
        scrubbed.alias("text"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )


@_q(
    "lang_id_heuristic",
    """
    SELECT doc_id,
           CASE WHEN ' ' || text || ' ' LIKE '% the %' OR ' ' || text || ' ' LIKE '% and %' THEN 'en'
                WHEN ' ' || text || ' ' LIKE '% der %' OR ' ' || text || ' ' LIKE '% und %' THEN 'de'
                WHEN ' ' || text || ' ' LIKE '% le %' OR ' ' || text || ' ' LIKE '% et %' THEN 'fr'
                WHEN ' ' || text || ' ' LIKE '% el %' OR ' ' || text || ' ' LIKE '% y %' THEN 'es'
                ELSE 'und' END AS lang_guess,
           lang AS lang_declared
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    """Stopword-marker language ID (portable LIKE semantics)."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

    def has(w):
        return padded.like(f"% {w} %")

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(has("the") | has("and"), "en")
        .when(has("der") | has("und"), "de")
        .when(has("le") | has("et"), "fr")
        .when(has("el") | has("y"), "es")
        .otherwise("und")
        .alias("lang_guess"),
        F.col("lang").alias("lang_declared"),
    )


# character-trigram profiles (public linguistic marker sets); occurrence
# counting via length-difference is exactly portable (no regex dialects)
_NGRAM_PROFILES = {
    "en": [" th", "the", "ing", "and"],
    "de": ["der", "ein", "sch", "und"],
    "fr": ["les", "ent", " et", " la"],
    "es": [" de", "los", " el", "ión"],
}


def _ngram_score_sql(grams):
    return " + ".join(
        f"(length(text) - length(replace(text, '{g}', ''))) / 3" for g in grams
    )


#: shared trigram-argmax prediction, used verbatim by lang_id_ngram and
#: langid_confusion_report (drift-proof by construction, the
#: filter_funnel_report discipline)
_LANGID_CASE_SQL = (
    "CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en' "
    "WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de' "
    "WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr' "
    "WHEN s_es > 0 THEN 'es' "
    "ELSE 'und' END"
)


def _langid_scores():
    def score(grams):
        out = None
        for g in grams:
            c = (
                F.length("text") - F.length(F.replace(F.col("text"), F.lit(g)))
            ) / 3
            out = c if out is None else out + c
        return out

    return {k: score(v) for k, v in _NGRAM_PROFILES.items()}


def _langid_pred_expr(s):
    return (
        F.when(
            (s["en"] >= s["de"])
            & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"])
            & (s["en"] > 0),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("und")
    )


@_q(
    "lang_id_ngram",
    f"""
    WITH scored AS (
      SELECT doc_id,
             {_ngram_score_sql(_NGRAM_PROFILES["en"])} AS s_en,
             {_ngram_score_sql(_NGRAM_PROFILES["de"])} AS s_de,
             {_ngram_score_sql(_NGRAM_PROFILES["fr"])} AS s_fr,
             {_ngram_score_sql(_NGRAM_PROFILES["es"])} AS s_es
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS lang_guess,
           CAST(s_en AS BIGINT) AS score_en
    FROM scored
    """,
)
def lang_id_ngram(spark, sf_dir):
    """Character-trigram language ID (the n-gram heuristic tier above the
    stopword LIKE markers): per-language trigram profiles scored by
    substring occurrence counts — computed with length-difference
    arithmetic, which is bit-identical across engines.  Deterministic
    argmax with en>de>fr>es tie order."""

    s = _langid_scores()
    return _docs(spark, sf_dir).select(
        "doc_id",
        _langid_pred_expr(s).alias("lang_guess"),
        s["en"].cast("long").alias("score_en"),
    )


# ------------------------------------------------------- similarity search


#: topk_cosine oracle, as a variable so hybrid_search_rrf can embed it
_TOPK_COSINE_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
             list_dot_product(e.embedding, q.qv)
             / (sqrt(list_dot_product(e.embedding, e.embedding))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """


@_q("topk_cosine", _TOPK_COSINE_SQL)
def topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 query vector, all
    JVM-side (zip_with/aggregate — no Python UDF)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    return (
        joined.select("vec_id", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


#: RRF smoothing constant (Cormack et al. 2009's k=60)
_RRF_K = 60.0

#: semantic-decontamination cosine threshold (the near-dup family's 0.4)
_DSEM_TAU = 0.4

#: BPE merge table, rank = list index (a deterministic stand-in for a
#: trained merge list, the _QC_WEIGHTS convention — a real deployment
#: swaps in the tokenizer's merges.txt).  Apply policy on BOTH engines:
#: repeatedly merge the LEFTMOST occurrence of the best-ranked adjacent
#: pair until none applies (equivalent to the standard greedy BPE apply).
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "r"), ("a", "r"), ("s", "t"), ("o", "n"), ("l", "e"),
    ("c", "h"), ("s", "c"), ("u", "e"), ("al", "ue"),
]
_BPE_RANK = {p: r for r, p in enumerate(_BPE_MERGES)}

#: DuckDB rank expression over an adjacent symbol pair
_BPE_RANK_SQL = "CASE " + " ".join(
    f"WHEN syms[i]='{a}' AND syms[i+1]='{b}' THEN {r}"
    for r, (a, b) in enumerate(_BPE_MERGES)
) + " END"


#: shared DuckDB fragment: the recursive leftmost-best BPE apply over a
#: `vocab(token)` CTE, yielding `pieces(token, n_pieces)` — used by the
#: bpe_tokenize and tokenizer_fertility_report oracles
_BPE_APPLY_CTES = f"""
    bpe AS (
      SELECT token, string_split_regex(token, '') AS syms FROM vocab
      UNION ALL
      SELECT token,
             list_slice(syms, 1, p - 1) || [syms[p] || syms[p+1]]
               || list_slice(syms, p + 2, len(syms))
      FROM (
        SELECT token, syms,
               list_position(rk,
                 list_min(list_filter(rk, x -> x IS NOT NULL))) AS p
        FROM (
          SELECT token, syms,
                 list_transform(range(1, len(syms)),
                                i -> {_BPE_RANK_SQL}) AS rk
          FROM bpe)
      ) WHERE p IS NOT NULL
    ),
    pieces AS (
      SELECT token, arg_min(len(syms), len(syms)) AS n_pieces
      FROM bpe GROUP BY token
    )"""


def _bpe_piece_counts(vocab, merge_rank):
    """Arrow-batched greedy leftmost-best BPE apply over the DISTINCT
    vocabulary frame — the only Python stage of the tokenizer family
    (shared by `bpe_tokenize` and `tokenizer_fertility_report`; the
    corpus never enters Python).  Returns (token, n_pieces)."""

    def apply_bpe(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for tkn in pdf["token"]:
                syms = list(tkn)
                while True:
                    best = bp = None
                    for i in range(len(syms) - 1):
                        r = merge_rank.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best, bp = r, i
                    if bp is None:
                        break
                    syms[bp : bp + 2] = [syms[bp] + syms[bp + 1]]
                out.append((tkn, len(syms)))
            yield pd.DataFrame(out, columns=["token", "n_pieces"])

    return vocab.mapInPandas(apply_bpe, "token string, n_pieces int")


@_q(
    "bpe_tokenize",
    f"""
    WITH RECURSIVE t AS (
      -- token != '' : consecutive spaces produce empty tokens, which the
      -- two engines BPE differently (Python list('') = [] vs DuckDB
      -- string_split_regex('', '') = ['']) — and a zero-char token is
      -- not a word anyway
      SELECT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents WHERE trim(text) != ''
      ) WHERE token != ''
    ),
    tfd AS (SELECT doc_id, token, count(*) AS cnt FROM t GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT token FROM tfd),{_BPE_APPLY_CTES}
    SELECT tfd.doc_id,
           CAST(sum(tfd.cnt) AS BIGINT) AS n_words,
           CAST(sum(tfd.cnt * p.n_pieces) AS BIGINT) AS n_bpe_pieces
    FROM tfd JOIN pieces p USING (token)
    GROUP BY tfd.doc_id
    """,
)
def bpe_tokenize(spark, sf_dir, rank=None):
    """Real BPE tokenization apply — the tokenizer-aware token counting a
    training pipeline needs for packing/budgeting (whitespace counts
    under-estimate transformer sequence lengths; `sequence_pack` and
    compute budgeting want BPE piece counts).  Greedy byte-pair apply:
    repeatedly merge the leftmost occurrence of the best-ranked adjacent
    pair from the merge table until none applies (the standard
    tokenizer apply loop; the inlined table is a deterministic stand-in
    for a trained merges.txt).

    The showcase here is the SCALE SHAPE of tokenization on Spark: the
    apply loop is genuinely iterative — inexpressible as a fixed-depth
    column expression — so it runs as Arrow-batched Python
    (mapInPandas), but over the DISTINCT VOCABULARY, not the corpus:
    every occurrence of a word BPEs identically, so the expensive loop
    touches |vocab| rows and the corpus-sized work is one join of the
    (doc, token, count) stream against the piece-count dim plus a
    map-combinable groupBy.  At 10^12 documents the vocabulary is
    ~10^8 — the Python stage stays a rounding error while the corpus
    never enters Python at all.  The DuckDB oracle replays the apply
    loop as a recursive CTE with the identical leftmost-best policy.

    ``rank`` swaps the inlined stand-in table for a learned one — e.g.
    the output of `bpe_train` collected into {(lhs, rhs): rank} — without
    changing the apply plan (the oracle covers the default table only)."""
    merge_rank = _BPE_RANK if rank is None else rank
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    tfd = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = tfd.select("token").distinct()
    pieces = _bpe_piece_counts(vocab, merge_rank)
    return (
        tfd.join(pieces, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("long").alias(
                "n_bpe_pieces"
            ),
        )
    )


@_q(
    "tokenizer_fertility_report",
    f"""
    WITH RECURSIVE t AS (
      SELECT source, token FROM (
        SELECT source, unnest(string_split(trim(text), ' ')) AS token
        FROM documents WHERE trim(text) != ''
      ) WHERE token != ''
    ),
    tfs AS (SELECT source, token, count(*) AS cnt FROM t GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT token FROM tfs),{{_BPE_APPLY_CTES}}
    SELECT tfs.source,
           CAST(sum(tfs.cnt) AS BIGINT) AS n_words,
           CAST(sum(tfs.cnt * p.n_pieces) AS BIGINT) AS n_pieces,
           round(sum(tfs.cnt * p.n_pieces) * 1.0 / sum(tfs.cnt), 4) AS fertility
    FROM tfs JOIN pieces p USING (token)
    GROUP BY tfs.source
    """.format(_BPE_APPLY_CTES=_BPE_APPLY_CTES),
)
def tokenizer_fertility_report(spark, sf_dir):
    """Tokenizer fertility audit — pieces-per-word by source, the metric
    a team checks BEFORE committing a tokenizer to a training run (high
    fertility on a source means its text is expensive in sequence budget
    and under-served by the merge table; multilingual tokenizer papers
    report exactly this number per language).  Uses the same greedy
    leftmost-best apply as `bpe_tokenize`, shared via
    `_bpe_piece_counts`.

    Scale shape: the corpus collapses FIRST to a (source, token, cnt)
    aggregate (bounded by |sources| x |vocab|, map-side combined); the
    iterative Python apply again touches only the DISTINCT vocabulary;
    the final rollup is one source-cardinality aggregate.  No per-doc
    granularity anywhere — this report never needs it, so it never pays
    for it.  Fertility is an exact-integer ratio rounded at output."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tok = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    tfs = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    pieces = _bpe_piece_counts(tfs.select("token").distinct(), _BPE_RANK)
    fert = F.round(
        F.sum(F.col("cnt") * F.col("n_pieces")).cast("double") / F.sum("cnt"), 4
    )
    return (
        tfs.join(pieces, "token")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("long").alias("n_pieces"),
            fert.alias("fertility"),
        )
    )


#: number of merge rounds bpe_train learns (a real tokenizer trains
#: 30k-100k; 8 keeps the unrolled DuckDB oracle readable — the per-round
#: plan shape is identical at any count)
_BPE_TRAIN_ROUNDS = 8
#: bounded merge passes per round: one plain left-to-right replace pass
#: can step over an overlapping run (' a a a a ' -> ' aa a a '), so BOTH
#: engines (and the Python replay test) apply the same fixed number of
#: passes — 3 saturates runs up to 2^3 symbols, and the variant is
#: deterministic and engine-identical by construction
_BPE_TRAIN_PASSES = 3


def _bpe_train_sql(rounds=_BPE_TRAIN_ROUNDS, passes=_BPE_TRAIN_PASSES):
    """Unrolled DuckDB replay of the training loop: one pair-count
    aggregate + argmax + bounded-pass merge per round, as plain CTEs."""
    parts = [
        r"""
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS w
      FROM documents WHERE trim(text) != ''
    ),
    v AS (SELECT w, count(*) AS cnt FROM tok WHERE w != '' GROUP BY 1),
    s0 AS (
      SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, cnt FROM v
    )"""
    ]
    for i in range(1, rounds + 1):
        rep = "seq"
        for _ in range(passes):
            rep = f"replace({rep}, ' '||lhs||' '||rhs||' ', ' '||lhs||rhs||' ')"
        parts.append(
            f""",
    p{i} AS (
      SELECT lhs, rhs, sum(cnt) AS c FROM (
        SELECT unnest(list_transform(range(1, len(arr)), j -> arr[j])) AS lhs,
               unnest(list_transform(range(1, len(arr)), j -> arr[j+1])) AS rhs,
               cnt
        FROM (SELECT string_split(trim(seq), ' ') AS arr, cnt FROM s{i - 1})
        WHERE len(arr) >= 2
      ) GROUP BY 1, 2
    ),
    b{i} AS (SELECT lhs, rhs, c FROM p{i} ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1),
    s{i} AS (SELECT {rep} AS seq, cnt FROM s{i - 1}, b{i})"""
        )
    finals = [
        f"""SELECT {i} AS merge_rank, lhs, rhs, lhs || rhs AS merged,
           CAST(c AS BIGINT) AS pair_count FROM b{i}"""
        for i in range(1, rounds + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(finals)


@_q("bpe_train", _bpe_train_sql())
def bpe_train(spark, sf_dir):
    """BPE merge-table TRAINING — the other half of the tokenizer story
    next to `bpe_tokenize`'s apply: learn the merge table itself from the
    corpus.  Each round counts adjacent symbol pairs across the
    vocabulary (weighted by word frequency), picks the argmax pair
    (ties: higher count, then lexicographic (lhs, rhs)), merges it
    everywhere, and repeats.  Output: (merge_rank, lhs, rhs, merged,
    pair_count) — a merges.txt, consumable by `bpe_tokenize(rank=...)`.

    Scale shape (the same discipline as bpe_tokenize's vocab-only gate):
    the corpus is touched ONCE — the word-count groupBy — and every
    training round runs over the DISTINCT VOCABULARY: one bounded-output
    pair-count HashAggregate (pairs are bounded by the symbol alphabet
    squared), one top-1 TakeOrderedAndProject (never a full sort), and a
    map-side merge via a 1-row broadcast of the argmax pair.  No Python
    anywhere — the merge is a chain of built-in replace() calls
    (plan-gated: bpe_train_no_python_no_corpus_resort).

    Merge variant: a plain replace pass is left-to-right non-overlapping,
    which steps over runs (' a a a a ' needs two passes), so each round
    applies _BPE_TRAIN_PASSES identical passes — deterministic, identical
    in Spark/DuckDB/the Python replay test, and saturating for runs up to
    2^passes symbols.

    Plan depth: the rounds chain lazily here (8 rounds -> one deep plan,
    fine for Catalyst).  A production 30k-merge training run would
    localCheckpoint the vocab frame every ~16 rounds to truncate lineage
    — the standard iterative-algorithm shape (connected_components does
    exactly this) — without changing any per-round plan."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    seqs = vocab.select(
        F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("seq"),
        "cnt",
    )
    merges = []
    for rnk in range(1, _BPE_TRAIN_ROUNDS + 1):
        arr = F.split(F.trim(F.col("seq")), " ")
        prs = (
            seqs.filter(F.size(arr) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda j: F.struct(
                            F.element_at(arr, j).alias("lhs"),
                            F.element_at(arr, j + 1).alias("rhs"),
                        ),
                    )
                ).alias("pr"),
            )
            .select("cnt", "pr.lhs", "pr.rhs")
        )
        best = (
            prs.groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(rnk).alias("merge_rank"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                F.col("c").cast("long").alias("pair_count"),
            )
        )
        pat = F.concat(F.lit(" "), F.col("lhs"), F.lit(" "), F.col("rhs"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("lhs"), F.col("rhs"), F.lit(" "))
        merged_seq = F.col("seq")
        for _ in range(_BPE_TRAIN_PASSES):
            merged_seq = F.replace(merged_seq, pat, rep)
        # 1-row argmax frame: bounded by the LIMIT 1 — broadcast so the
        # vocab-side merge stays map-side (no vocab shuffle per round)
        seqs = seqs.crossJoin(F.broadcast(best.select("lhs", "rhs"))).select(
            merged_seq.alias("seq"), "cnt"
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@_q(
    "crawl_diff_report",
    """
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 != 0
      UNION ALL
      -- added docs live in a DISJOINT id namespace (negative ids):
      -- an additive offset collides with real ids once the corpus
      -- outgrows it, silently reclassifying adds as changes
      SELECT -(doc_id + 1) AS doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS verdict
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h != n.h
    """,
)
def crawl_diff_report(spark, sf_dir):
    """Snapshot-to-snapshot diff report — the delta audit run between two
    crawls before reprocessing: classify every url as added / removed /
    changed via a full-outer join on the key with content-hash compare,
    emitting ONLY the delta (unchanged rows — the overwhelming majority
    at 10^12 docs — are filtered out so the report is delta-sized).  The
    new snapshot is synthesized from the old with closed-form churn
    (doc_id%7==0 removed, %5==0 changed, %13==0 spawns an added doc in the disjoint negative-id namespace) so
    the oracle expectations are exact.

    Scale shape: ONE co-partitioned full-outer join on the key — with
    both snapshots bucketed/partitioned by url (as the extraction job
    already writes them), this is a zero-extra-shuffle merge; content
    compare is on precomputed hashes, never text."""
    docs = _docs(spark, sf_dir)
    old = docs.select("doc_id", F.md5("text").alias("h"))
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (-(F.col("doc_id") + 1)).alias("doc_id"),
                F.md5(F.col("doc_id").cast("string")).alias("h"),
            )
        )
    )
    o = old.withColumnRenamed("doc_id", "o_id").withColumnRenamed("h", "o_h")
    n = new.withColumnRenamed("doc_id", "n_id").withColumnRenamed("h", "n_h")
    j = o.join(n, o["o_id"] == n["n_id"], "full_outer")
    return j.filter(
        F.col("o_id").isNull() | F.col("n_id").isNull() | (F.col("o_h") != F.col("n_h"))
    ).select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .otherwise("changed")
        .alias("verdict"),
    )


@_q(
    "quantile_gated_filter",
    f"""
    WITH d AS (SELECT doc_id, n_chars AS s FROM documents),
    n AS (SELECT count(*) AS n FROM d),
    hist AS (
      SELECT CAST(floor(s / {_HQ_W}) AS BIGINT) AS b, count(*) AS c
      FROM d GROUP BY 1
    ),
    cum AS (SELECT b, c, sum(c) OVER (ORDER BY b) AS cum FROM hist),
    tgt AS (SELECT CAST(ceil(0.5 * n) AS BIGINT) AS k FROM n),
    pick AS (
      SELECT t.k, min(c.b) AS b FROM tgt t
      JOIN cum c ON c.cum >= t.k GROUP BY t.k
    ),
    thr AS (
      SELECT p.b * {_HQ_W}.0
             + (p.k - (c.cum - c.c)) * {_HQ_W}.0 / c.c AS threshold
      FROM pick p JOIN cum c ON c.b = p.b
    )
    SELECT d.doc_id,
           CAST(d.s AS BIGINT) AS n_chars,
           thr.threshold
    FROM d, thr WHERE d.s >= thr.threshold
    """,
)
def quantile_gated_filter(spark, sf_dir):
    """Data-derived percentile gating — the histogram-quantile sketch put
    to WORK: 'keep the top half of the corpus by length' where the
    threshold is not a hardcoded constant but the sketch's interpolated
    median, computed from the data in the same query (the composition a
    curation pipeline actually runs: sketch pass -> derive gate -> filter
    pass, the two-scan shape of `temperature_mix_sample`).

    Scale shape: the sketch is the same bounded-output histogram
    aggregate as `histogram_quantiles` (≤128 bin rows, mergeable);
    the derived one-row threshold broadcast-joins into the corpus-side
    filter, so the corpus is scanned twice and never shuffled.  At
    10^12 docs this replaces the corpus-global sort an exact-percentile
    gate would need."""
    docs = _docs(spark, sf_dir).select("doc_id", F.col("n_chars").alias("s"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    hist = docs.groupBy(F.floor(F.col("s") / _HQ_W).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("b", "c", F.sum("c").over(w_b).alias("cum"))
    tgt = n.select(F.ceil(F.lit(0.5) * F.col("n")).cast("long").alias("k"))
    pick = (
        tgt.join(cum, cum["cum"] >= tgt["k"])
        .groupBy("k")
        .agg(F.min("b").alias("b"))
    )
    thr = pick.join(cum, "b").select(
        (
            F.col("b") * float(_HQ_W)
            + (F.col("k") - (F.col("cum") - F.col("c"))) * float(_HQ_W) / F.col("c")
        ).alias("threshold")
    )
    return (
        docs.crossJoin(F.broadcast(thr))
        .filter(F.col("s") >= F.col("threshold"))
        .select(
            "doc_id",
            F.col("s").cast("long").alias("n_chars"),
            "threshold",
        )
    )


@_q(
    "source_data_card",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 4)
             AS dup_rate,
           round(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
                 / count(*), 4) AS en_share,
           round(CAST(sum(len(string_split(trim(text), ' '))) AS DOUBLE)
                 / count(*), 2) AS mean_doc_tokens
    FROM documents
    WHERE trim(text) != ''
    GROUP BY source
    """,
)
def source_data_card(spark, sf_dir):
    """Per-source data card — the dataset-datasheet row every corpus
    release publishes per subset (Dolma/FineWeb-style): document, token
    and character volume, exact-dup rate (1 - unique-content share),
    language share, and mean document length, in ONE pass.

    Scale shape: a single groupBy(source) whose output is
    source-cardinality-bounded; every metric except the distinct-content
    count is map-side combinable, and that one is Spark's standard
    two-phase partial distinct (the (source, md5) stream is the only
    extra shuffle volume).  This is the reporting query a 10^12-doc
    pipeline runs after every snapshot to catch source drift before
    training sees it."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    ntok = F.size(F.split(F.trim(F.col("text")), " "))
    return (
        docs.select(
            "source",
            ntok.alias("ntok"),
            "n_chars",
            F.md5(F.col("text")).alias("h"),
            (F.col("lang") == "en").cast("int").alias("is_en"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.countDistinct("h").cast("long").alias("n_unique_texts"),
            F.round(
                1.0 - F.countDistinct("h").cast("double") / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
            F.round(
                F.sum("is_en").cast("double") / F.count(F.lit(1)), 4
            ).alias("en_share"),
            F.round(
                F.sum("ntok").cast("double") / F.count(F.lit(1)), 2
            ).alias("mean_doc_tokens"),
        )
    )


#: jaccard threshold for the incremental near-dup gate (the
#: minhash_lsh_pairs convention)
_INCND_TAU = 0.5

#: one minhash+banding CTE chain (the minhash_lsh_pairs construction,
#: parameterized by source CTE and id column) so the incremental
#: near-dup oracle applies the IDENTICAL sketch to both snapshots
def _sql_minhash_bands(src, idc):
    return f"""
    {src}minh0 AS (
      SELECT {idc}, a,
             min(substr(md5(cast(a AS varchar) || ':' || token), 1, 8))  AS m0,
             min(substr(md5(cast(a AS varchar) || ':' || token), 9, 8))  AS m1,
             min(substr(md5(cast(a AS varchar) || ':' || token), 17, 8)) AS m2,
             min(substr(md5(cast(a AS varchar) || ':' || token), 25, 8)) AS m3
      FROM {src}tok, range(4) r(a) GROUP BY {idc}, a
    ),
    {src}minh AS (
      SELECT {idc}, a * 4 + lb.b AS k,
             CASE lb.b WHEN 0 THEN m0 WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END AS mh
      FROM {src}minh0, range(4) lb(b)
    ),
    {src}bands AS (
      SELECT {idc}, cast(k // 4 AS int) AS band,
             md5(string_agg(mh, '' ORDER BY k)) AS bkey
      FROM {src}minh GROUP BY {idc}, cast(k // 4 AS int)
    )"""


@_q(
    "incremental_dedup_neardup",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < 300 AND trim(text) != ''
    ),
    inc AS (
      SELECT doc_id AS inc_id,
             CASE WHEN doc_id % 4 = 0 THEN text
                  WHEN doc_id % 8 = 2 THEN text || ' update run2'
                  ELSE regexp_replace(text, '(\\S+)', '\\1x', 'g') END AS text
      FROM base WHERE doc_id % 2 = 0
    ),
    ctok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM base),
    itok AS (SELECT DISTINCT inc_id, unnest(string_split(text, ' ')) AS token FROM inc),
    {_sql_minhash_bands("c", "doc_id")},
    {_sql_minhash_bands("i", "inc_id")},
    cand AS (
      SELECT DISTINCT i.inc_id, c.doc_id
      FROM ibands i JOIN cbands c ON i.band = c.band AND i.bkey = c.bkey
    ),
    csizes AS (SELECT doc_id, count(*) AS n FROM ctok GROUP BY 1),
    isizes AS (SELECT inc_id, count(*) AS n FROM itok GROUP BY 1),
    inter AS (
      SELECT cand.inc_id, cand.doc_id, count(*) AS shared
      FROM cand
      JOIN itok ON itok.inc_id = cand.inc_id
      JOIN ctok ON ctok.doc_id = cand.doc_id AND ctok.token = itok.token
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT DISTINCT inter.inc_id
      FROM inter
      JOIN isizes si ON si.inc_id = inter.inc_id
      JOIN csizes sc ON sc.doc_id = inter.doc_id
      WHERE CAST(shared AS DOUBLE) / (si.n + sc.n - shared) >= {_INCND_TAU!r}
    )
    SELECT inc_id AS doc_id,
           inc_id NOT IN (SELECT inc_id FROM dup) AS admitted
    FROM inc
    """,
)
def incremental_dedup_neardup(spark, sf_dir):
    """Incremental NEAR-duplicate dedup — the near-dup tier of the
    recurring cross-snapshot job (`incremental_dedup_bloom` is its
    exact-hash tier): a new crawl increment is admitted only if no
    document in the existing corpus is a near-duplicate (token-set
    Jaccard >= 0.5), catching re-crawls with boilerplate
    drift/minor edits that byte-hash dedup misses.  The increment is
    synthesized from the corpus at three edit intensities so expected
    verdicts are closed-form: doc_id%4==0 byte-identical re-fetches
    (Jaccard 1, rejected), %8==2 light edits (two appended tokens,
    Jaccard ~0.9, rejected when LSH recalls them — the sketch's
    published ~1-(1-j^4)^4 recall applies and the oracle replays the
    identical sketch), %8==6 full rewrites (every token changed,
    Jaccard ~0, admitted).

    Scale shape: the corpus side's minhash band table is exactly what a
    production pipeline PRECOMPUTES and stores with the snapshot (16
    hashes, 4 bands — (band, bkey) rows, corpus-sized but narrow); the
    increment (small by definition) builds its bands and equi-joins on
    (band, bkey), so candidate verification touches only colliding
    pairs; the Jaccard verify then runs per candidate.  The corpus text
    is never self-joined and nothing is cartesian (plan-gated)."""
    from readability_spark.spark import textops

    base = _docs(spark, sf_dir).filter(
        (F.col("doc_id") < 300) & (F.trim(F.col("text")) != "")
    )
    corpus = base.select("doc_id", "text")
    inc = base.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("inc_id"),
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .when(
            F.col("doc_id") % 8 == 2,
            F.concat(F.col("text"), F.lit(" update run2")),
        )
        .otherwise(F.regexp_replace(F.col("text"), r"(\S+)", "$1x"))
        .alias("text"),
    )
    ctok = textops.tokens(corpus)
    itok = textops.tokens(inc, id_col="inc_id")
    cbands = textops.lsh_bands(textops.minhash_signatures(ctok), id_col="doc_id")
    ibands = textops.lsh_bands(
        textops.minhash_signatures(itok, id_col="inc_id"), id_col="inc_id"
    )
    cand = ibands.join(cbands, ["band", "bkey"]).select("inc_id", "doc_id").distinct()
    csizes = ctok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc"))
    isizes = itok.groupBy("inc_id").agg(F.count(F.lit(1)).alias("ni"))
    ita = itok.withColumnRenamed("inc_id", "i_id")
    cta = ctok.withColumnRenamed("doc_id", "c_id").withColumnRenamed(
        "token", "c_token"
    )
    inter = (
        cand.join(ita, F.col("inc_id") == F.col("i_id"))
        .join(
            cta,
            (F.col("doc_id") == F.col("c_id"))
            & (F.col("token") == F.col("c_token")),
        )
        .groupBy("inc_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("ni") + F.col("nc") - F.col("shared")
    )
    dup = (
        inter.join(isizes, "inc_id")
        .join(csizes, "doc_id")
        .filter(jac >= _INCND_TAU)
        .select("inc_id")
        .distinct()
    )
    return inc.join(dup.withColumn("is_dup", F.lit(True)), "inc_id", "left").select(
        F.col("inc_id").alias("doc_id"),
        F.coalesce(~F.col("is_dup"), F.lit(True)).alias("admitted"),
    )


#: stop-posting document-frequency cap, as a fraction of the corpus: a
#: token present in more than this share of documents keeps its df/ttf
#: stats but gets NO posting list (the stop-list / skip-posting move
#: real index builders make — hot postings are useless for retrieval
#: and are exactly the skew that k2-bombs a naive build)
_IIX_DF_CAP = 0.8
#: posting-list BLOCK width: postings are sharded into doc_id-range
#: blocks of this many ids, so a single row's arrays hold at most
#: _IIX_BLOCK entries NO MATTER the token's df — the structural bound
#: the fractional stop-list alone cannot give (a token at 1% df over
#: 10^12 docs is a 10^10-entry single-cell array without it).  256 here
#: so the sf0.01/sf0.1 tables exercise multi-block tokens; a production
#: index uses ~64k (Lucene-block-ish) — the plan shape is identical.
_IIX_BLOCK = 256


@_q(
    "inverted_index",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE trim(text) != ''
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    tfd AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
    stats AS (
      SELECT token, count(*) AS df, sum(tf) AS ttf FROM tfd GROUP BY 1
    ),
    blocks AS (
      SELECT token, doc_id // {_IIX_BLOCK} AS block_no,
             list(doc_id ORDER BY doc_id) AS postings,
             list(tf ORDER BY doc_id) AS tfs
      FROM tfd GROUP BY 1, 2
    )
    SELECT s.token,
           CAST(s.df AS BIGINT) AS df,
           CAST(s.ttf AS BIGINT) AS total_tf,
           CAST(b.block_no AS BIGINT) AS block_no,
           b.postings, b.tfs
    FROM stats s JOIN blocks b USING (token), n
    WHERE s.df <= {_IIX_DF_CAP!r} * n.n_docs
    UNION ALL
    SELECT s.token,
           CAST(s.df AS BIGINT) AS df,
           CAST(s.ttf AS BIGINT) AS total_tf,
           NULL AS block_no, NULL AS postings, NULL AS tfs
    FROM stats s, n
    WHERE s.df > {_IIX_DF_CAP!r} * n.n_docs
    """,
)
def inverted_index(spark, sf_dir):
    """Inverted-index construction — the index artifact a lexical search
    stack materializes from the corpus: per token, document frequency,
    total term frequency, and the posting list (doc_ids sorted ascending,
    with the matching per-doc tf array), the input `bm25_search` would
    serve from at query time.

    The scale hazard of a naive build is posting-list skew: a stopword
    present in ~every document accumulates a corpus-sized list in one
    reducer cell (the same k2/hot-key failure the dedup edge-builders
    guard against).  TWO guards, because the fractional stop-list alone
    is not a bound — a token at 1% df over 10^12 docs is a 10^10-entry
    single-cell array, which no engine materializes:

    1. STRUCTURAL: postings are block-sharded by doc_id range —
       block_no = doc_id // _IIX_BLOCK — so one output row holds at most
       _IIX_BLOCK (doc_id, tf) entries regardless of the token's df (a
       token's index entry is its df/ttf stats plus df/_IIX_BLOCK-ish
       block rows, the posting-block layout real indexes use on disk).
    2. STOP-LIST: tokens above the 80% df cap keep their df/ttf stats
       but get a single NULL-postings row (hot postings are useless for
       retrieval); the hot set (bounded by 1/cap_fraction tokens) is
       broadcast-anti-joined against the (token, doc) stream BEFORE any
       list materialization (plan-gated).

    Shuffles: the map-combined (doc,token) tf groupBy, the token-level
    stats groupBy, and the (token, block) postings build over the capped
    stream only — per-row and per-reducer state all bounded."""
    docs = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    )
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    tfd = tok.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = (
        tfd.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf"))
        .crossJoin(n)
    )
    hot = stats.filter(
        F.col("df") > F.lit(_IIX_DF_CAP) * F.col("n_docs")
    ).select("token")
    blocks = (
        tfd.join(F.broadcast(hot), "token", "left_anti")
        .withColumn("block_no", F.floor(F.col("doc_id") / _IIX_BLOCK))
        .groupBy("token", "block_no")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("plist")
        )
        .select(
            "token",
            F.col("block_no").cast("long").alias("block_no"),
            F.transform(F.col("plist"), lambda x: x.doc_id).alias("postings"),
            F.transform(F.col("plist"), lambda x: x.tf).alias("tfs"),
        )
    )
    cold = stats.join(blocks, "token").select(
        "token",
        F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("total_tf"),
        "block_no",
        "postings",
        "tfs",
    )
    hot_rows = stats.filter(
        F.col("df") > F.lit(_IIX_DF_CAP) * F.col("n_docs")
    ).select(
        "token",
        F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("total_tf"),
        F.lit(None).cast("long").alias("block_no"),
        F.lit(None).cast("array<bigint>").alias("postings"),
        F.lit(None).cast("array<bigint>").alias("tfs"),
    )
    return cold.unionByName(hot_rows)


@_q(
    "decontam_semantic",
    f"""
    WITH bench AS (
      SELECT CAST(embedding AS DOUBLE[]) AS b FROM embeddings
      WHERE vec_id % 23 = 0 AND vec_id < 500
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id % 23 != 0
    ),
    cos AS (
      SELECT c.vec_id,
             max(list_dot_product(c.e, b.b)
                 / (sqrt(list_dot_product(c.e, c.e))
                    * sqrt(list_dot_product(b.b, b.b)))) AS mc
      FROM corpus c, bench b GROUP BY 1
    )
    SELECT vec_id,
           round(mc, 4) AS max_benchmark_cos,
           round(mc, 4) >= {_DSEM_TAU!r} AS contaminated
    FROM cos
    """,
)
def decontam_semantic(spark, sf_dir):
    """Semantic benchmark decontamination — the embedding-space
    complement to `decontam_ngram_overlap`'s lexical check: a candidate
    training document is contaminated if its embedding's cosine to ANY
    benchmark embedding reaches the near-dup threshold
    (0.4), catching paraphrased/reformatted eval leakage that
    exact n-grams miss.  Benchmark stand-in: the vec_id % 23 == 0 slice,
    capped at vec_id < 500 — a benchmark suite is FIXED SIZE no matter
    how large the corpus grows, and the cap keeps the inlined expression
    tree (and the per-row compute, which is O(|bench| x dim)) constant
    at every scale factor.

    Scale shape: the benchmark suite is small and FIXED at any corpus
    scale, so its vectors are inlined as literals (the IVF-codebook
    pattern) and each corpus row computes its max-cosine MAP-SIDE — no
    join, no aggregation, no shuffle; the corpus is scanned exactly once
    (plan-gated map-only).  Arithmetic is forced to double on both
    engines (the parquet column is float32) and the fold order matches
    `topk_cosine`'s, so round-4 values hash-match."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = [
        [float(x) for x in r.embedding]
        for r in sorted(
            emb.filter((F.col("vec_id") % 23 == 0) & (F.col("vec_id") < 500))
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )
    ]
    e = F.col("embedding").cast("array<double>")
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    norm_e = F.sqrt(dot(e, e))
    cos_terms = [
        dot(e, F.lit(v)) / (norm_e * F.sqrt(dot(F.lit(v), F.lit(v))))
        for v in bench
    ]
    # degenerate corpora: with an EMPTY benchmark slice max-cosine is
    # undefined for every row — the oracle's cross-join-with-empty-bench
    # yields zero rows, so the Spark side must too (not NULL-scored
    # rows); one benchmark vector needs no greatest()
    if not cos_terms:
        mc = F.lit(None).cast("double")
    elif len(cos_terms) == 1:
        mc = F.round(cos_terms[0], 4)
    else:
        mc = F.round(F.greatest(*cos_terms), 4)
    out = emb.filter(F.col("vec_id") % 23 != 0).select(
        "vec_id",
        mc.alias("max_benchmark_cos"),
        (mc >= _DSEM_TAU).alias("contaminated"),
    )
    return out.filter(F.lit(False)) if not cos_terms else out


@_q(
    "hybrid_search_rrf",
    f"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS lex_rank
      FROM ({_BM25_SQL})
    ),
    dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS dense_rank
      FROM ({_TOPK_COSINE_SQL})
    )
    SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
           CAST(l.lex_rank AS BIGINT) AS lex_rank,
           CAST(d.dense_rank AS BIGINT) AS dense_rank,
           CAST(round(
             (CASE WHEN l.lex_rank IS NULL THEN 0.0
                   ELSE 1.0 / ({_RRF_K!r} + l.lex_rank) END
              + CASE WHEN d.dense_rank IS NULL THEN 0.0
                     ELSE 1.0 / ({_RRF_K!r} + d.dense_rank) END)
             * {float(_TFIDF_FP)!r}) AS BIGINT) AS rrf_fp
    FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid-search fusion: reciprocal-rank fusion (Cormack et al.
    2009, k=60) of the BM25 lexical list and the dense cosine
    list — the standard way retrieval stacks combine a keyword index
    with an embedding index without score calibration, since RRF only
    consumes RANKS.  Composes two already-green operators
    (`bm25_search`, `topk_cosine`) end-to-end, the way `curated_corpus_
    neardup` composes the dedup stages.

    Scale shape: all the heavy lifting (posting filter + heap top-k;
    brute cosine + heap top-k) lives in the two retrieval branches,
    which keep their own scale-safe plans; the fusion itself — rank
    windows, full-outer join, RRF arithmetic — runs on 2×k rows.  The
    fused score is fixed-pointed (round(x·2^20) BIGINT) like the other
    ranking operators, and rank ties break on doc_id in both engines."""
    from pyspark.sql import Window

    lex = bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_fp").desc(), F.col("doc_id").asc()))
        .cast("long")
        .alias("lex_rank"),
    )
    dense = topk_cosine(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .cast("long")
        .alias("dense_rank"),
    )
    contrib = lambda c: F.when(c.isNull(), 0.0).otherwise(
        F.lit(1.0) / (F.lit(_RRF_K) + c)
    )
    return lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        F.round(
            (contrib(F.col("lex_rank")) + contrib(F.col("dense_rank")))
            * float(_TFIDF_FP)
        )
        .cast("long")
        .alias("rrf_fp"),
    )


@_q(
    "topk_longest_per_domain",
    """
    WITH pages AS (
      SELECT (case when doc_id % 10 < 4 then 'hot' else source end) || '.example.com' AS domain,
             doc_id, length(text) AS n_chars
      FROM documents
    )
    SELECT domain, doc_id, n_chars FROM (
      SELECT *, row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM pages) WHERE rn <= 3
    """,
)
def topk_longest_per_domain(spark, sf_dir):
    """Window function coverage: per-domain top-3 longest documents
    (rank-within-partition — the per-domain quality-sampling pattern)."""
    from pyspark.sql import Window

    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.when(F.col("doc_id") % 10 < 4, F.lit("hot")).otherwise(F.col("source")),
            F.lit(".example.com"),
        ).alias("domain"),
        "doc_id",
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        pages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("domain", "doc_id", "n_chars")
    )


@_q(
    "latest_snapshot_per_url",
    f"""
    WITH snaps AS (
      SELECT {_SQL_URL} AS url,
             TIMESTAMP '2026-01-01' + INTERVAL (doc_id * 37) SECOND
               + INTERVAL (rev.rev * 604800) SECOND AS warc_ts,
             rev.rev AS snapshot_rev
      FROM documents, (SELECT unnest([0, 1, 2]) AS rev) rev
    )
    SELECT url, warc_ts, snapshot_rev FROM (
      SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
      FROM snaps) WHERE rn = 1
    """,
)
def latest_snapshot_per_url(spark, sf_dir):
    """Crawl-snapshot dedup: keep only the newest capture of each url.

    Common Crawl re-crawls pages across archives; the canonical
    training-data prep step keeps max(warc_ts) per url.  Three
    deterministic snapshot revisions (+0/+1/+2 weeks) are synthesized per
    page, then a row_number window over (url ORDER BY warc_ts DESC) picks
    the latest — the as-of/latest-version pattern.  At scale the window
    shuffle partitions on url (same key as the extraction partitioning,
    so Iceberg bucket(url) co-locates it shuffle-free)."""
    from pyspark.sql import Window

    pages = read_pages(spark, sf_dir).select("url", "warc_ts")
    revs = spark.range(3).select(F.col("id").cast("int").alias("snapshot_rev"))
    snaps = pages.crossJoin(revs).select(
        "url",
        (
            F.col("warc_ts")
            + F.make_interval(secs=F.col("snapshot_rev").cast("long") * 604800)
        ).alias("warc_ts"),
        "snapshot_rev",
    )
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", "warc_ts", "snapshot_rev")
    )


@_q(
    "crawl_cube_stats",
    """
    SELECT coalesce((case when doc_id % 10 < 4 then 'hot' else source end) || '.example.com',
                    'ALL') AS domain,
           coalesce(nullif(trim(lang), ''), 'ALL') AS lang_group,
           count(*) AS n_pages,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY CUBE ((case when doc_id % 10 < 4 then 'hot' else source end) || '.example.com',
                   nullif(trim(lang), ''))
    """,
)
def crawl_cube_stats(spark, sf_dir):
    """Grouping-sets coverage: page/char counts by (domain, lang) with all
    cube margins — the crawl-composition report (per-domain, per-language,
    and grand totals in one shuffle).  NULL group keys are labeled 'ALL'
    so margin rows are distinguishable portably."""
    docs = _docs(spark, sf_dir).select(
        F.concat(
            F.when(F.col("doc_id") % 10 < 4, F.lit("hot")).otherwise(F.col("source")),
            F.lit(".example.com"),
        ).alias("domain"),
        F.nullif(F.trim(F.col("lang")), F.lit("")).alias("lang_group"),
        F.length("text").alias("n_chars"),
    )
    return (
        docs.cube("domain", "lang_group")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            # DuckDB integer SUM returns HUGEINT (int128), which some fetch
            # paths render as float ("123.0" vs "123"); cast BOTH sides to
            # 64-bit so driver-side value normalization hashes identically.
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            F.coalesce(F.col("domain"), F.lit("ALL")).alias("domain"),
            F.coalesce(F.col("lang_group"), F.lit("ALL")).alias("lang_group"),
            "n_pages",
            "n_chars",
        )
    )


@_q(
    "except_regression_diff",
    """
    SELECT doc_id, md5(text) AS text_hash FROM documents
    EXCEPT
    SELECT doc_id, md5(upper(text)) AS text_hash FROM documents
    """,
)
def except_regression_diff(spark, sf_dir):
    """Set-operation coverage: EXCEPT between two runs' fingerprints — the
    run-to-run regression diff (SURVEY.md section 2.4 'Set operations')."""
    docs = _docs(spark, sf_dir)
    a = docs.select("doc_id", F.md5("text").alias("text_hash"))
    b = docs.select("doc_id", F.md5(F.upper(F.col("text"))).alias("text_hash"))
    return a.subtract(b)  # EXCEPT DISTINCT semantics, matching the SQL


@_q(
    "semi_join_docs_with_dups",
    """
    SELECT d.doc_id, length(d.text) AS n_chars
    FROM documents d
    WHERE EXISTS (
      SELECT 1 FROM documents o
      WHERE o.doc_id != d.doc_id
        AND o.source = d.source AND length(o.text) = length(d.text)
    )
    """,
)
def semi_join_docs_with_dups(spark, sf_dir):
    """Left-semi-join coverage: documents whose coarse duplicate key
    (source, text length) collides with at least one OTHER document — the
    'has a duplicate candidate' filter.  Semi join keeps the probe row,
    duplicates nothing, and at scale never materializes the match side's
    payload."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", F.length("text").alias("n_chars"))
    other = docs.select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.col("n_chars").alias("o_n"),
    )
    return docs.join(
        other,
        (F.col("source") == F.col("o_source"))
        & (F.col("n_chars") == F.col("o_n"))
        & (F.col("doc_id") != F.col("o_id")),
        "left_semi",
    ).select("doc_id", "n_chars")


@_q(
    "intersect_stable_docs",
    """
    SELECT doc_id, md5(text) AS text_hash FROM documents
    INTERSECT
    SELECT doc_id, md5(trim(text)) AS text_hash FROM documents
    """,
)
def intersect_stable_docs(spark, sf_dir):
    """INTERSECT coverage: fingerprints unchanged by a trim-normalizing
    re-run — the stable complement of the EXCEPT regression diff."""
    docs = _docs(spark, sf_dir)
    a = docs.select("doc_id", F.md5("text").alias("text_hash"))
    b = docs.select("doc_id", F.md5(F.trim(F.col("text"))).alias("text_hash"))
    return a.intersect(b)


@_q(
    "json_sidecar_roundtrip",
    """
    SELECT doc_id,
           CAST(json_extract_string(sidecar, '$.src') AS VARCHAR) AS src,
           CAST(json_extract(sidecar, '$.n') AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id,
             to_json(struct_pack(src := source, n := length(text))) AS sidecar
      FROM documents)
    """,
)
def json_sidecar_roundtrip(spark, sf_dir):
    """Dataset-level JSON function coverage (SURVEY.md §2.4 'JSON
    functions'): build a JSON metadata sidecar column with to_json and read
    it back with get_json_object — the crawl-sidecar pattern (WAT files,
    page metadata blobs) without any Python."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.to_json(
            F.struct(F.col("source").alias("src"), F.length("text").alias("n"))
        ).alias("sidecar"),
    )
    return docs.select(
        "doc_id",
        F.get_json_object("sidecar", "$.src").alias("src"),
        F.get_json_object("sidecar", "$.n").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------- streaming


def _stream_workdir(sf_dir, name):
    import shutil
    from pathlib import Path

    sf = sf_dir.rstrip("/").split("/")[-1]
    base = Path(f"/tmp/readability_stream/{sf}/{name}")
    shutil.rmtree(base, ignore_errors=True)
    (base / "input").mkdir(parents=True)
    return base


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

    base = _stream_workdir(sf_dir, "extract")
    read_pages(spark, sf_dir).write.mode("overwrite").parquet(str(base / "input"))
    out = stream_extract_to_parquet(
        spark, str(base / "input"), str(base / "output"), str(base / "checkpoint")
    )
    return out.select("url", "title", "byline", "site_name", "status")


# ------------------------------------------------ relational / metrics ops


@_q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS count_order,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """Partial+final hash aggregation (metrics-rollup pattern, TPC-H Q1
    shape)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("count_order"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
    )


@_q(
    "join_customer_orders",
    """
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_customer_orders(spark, sf_dir):
    """Broadcast hash join (small dim broadcast explicitly)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@_q(
    "range_join_page_events",
    f"""
    WITH pages AS (
      SELECT {_SQL_URL} AS url,
             TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id * 37) AS warc_ts
      FROM documents WHERE doc_id < 50
    )
    SELECT p.url,
           count(e.ts) AS n_events_within_hour,
           round(coalesce(sum(e.value), 0), 2) AS total_value
    FROM pages p LEFT JOIN events e
      ON e.ts >= p.warc_ts AND e.ts < p.warc_ts + INTERVAL 1 HOUR
    GROUP BY p.url
    """,
)
def range_join_page_events(spark, sf_dir):
    """Range/interval join coverage: events landing within one hour after
    each page's capture time (non-equi band predicate — the crawl-activity
    correlation pattern).  Bounded to 50 pages so the band join stays small
    at every sf; at scale the band is bucketed by hour first so the join
    becomes equi-on-bucket + range-refine."""
    from readability_spark.spark.pages import pages_from_documents

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    p = pages_from_documents(docs).select("url", "warc_ts")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cond = (ev.ts >= p.warc_ts) & (ev.ts < p.warc_ts + F.expr("INTERVAL 1 HOUR"))
    joined = p.join(ev, cond, "left")
    return joined.groupBy("url").agg(
        F.count("ts").alias("n_events_within_hour"),
        F.round(F.coalesce(F.sum("value"), F.lit(0)), 2).alias("total_value"),
    )


@_q(
    "anti_join_resume",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    )
    """,
)
def anti_join_resume(spark, sf_dir):
    """Left-anti join — the resume-from-lineage pattern (pages minus
    completed partitions, SURVEY.md section 2.5).  The predicate on the
    right side keeps the result non-empty so the check is non-trivial."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 150000
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@_q(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark, sf_dir):
    """Tumbling-window rollup over the event stream table (batch form of
    the Structured Streaming windowed agg)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


#: 2^52 — 13 hex chars of md5, exact as a double (shared hash domain)
_SPL_DOM = float(1 << 52)
#: cumulative split cutoffs on the content-hash fraction
_SPL_TRAIN = 0.8
_SPL_VALID = 0.9
#: shared CASE/when expression text for the DuckDB oracles
_SPL_SQL_U = (
    f"(CAST({{h}} AS DOUBLE) / {_SPL_DOM!r})"
)


def _spl_sql_case(fp_expr):
    u = _SPL_SQL_U.format(h=_sql_hex_bigint(fp_expr, 13))
    return (
        f"CASE WHEN {u} < {_SPL_TRAIN!r} THEN 'train' "
        f"WHEN {u} < {_SPL_VALID!r} THEN 'valid' ELSE 'test' END"
    )


def _spl_spark_split(fp_col):
    """train/valid/test from the 52-bit md5 fraction of a fingerprint col."""
    u = F.conv(F.substring(fp_col, 1, 13), 16, 10).cast("long") / F.lit(_SPL_DOM)
    return (
        F.when(u < _SPL_TRAIN, F.lit("train"))
        .when(u < _SPL_VALID, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


@_q(
    "split_assign",
    f"""
    WITH f AS (
      SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
    )
    SELECT doc_id, fingerprint, {_spl_sql_case("fingerprint")} AS split
    FROM f
    """,
)
def split_assign(spark, sf_dir):
    """Deterministic group-aware train/valid/test split (80/10/10): the
    split key is the NORMALIZED-CONTENT fingerprint, not the doc_id, so
    every exact duplicate of a text lands in the same split by
    construction — the standard leakage guard when a corpus is deduped
    AFTER splitting, or never fully deduped (Lee et al. 2022 measured
    >1% train/test overlap in C4/RealNews from ignoring this).  The
    assignment is a pure function of the bytes (md5 -> 52-bit fraction vs
    cumulative cutoffs): reproducible across engines, runs, retries and
    corpus growth — a re-crawled copy of a page joins its twin's split.

    Plan at scale: one map-only projection — zero exchanges, zero joins,
    no Python; at 10^12 documents this is exactly one pass that
    co-schedules with whatever scan precedes it.  Near-duplicates (not
    byte-equal after lower/trim) can still straddle splits; that residue
    is what `split_leakage_audit` measures."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )
    return d.select(
        "doc_id",
        "fingerprint",
        _spl_spark_split(F.col("fingerprint")).alias("split"),
    )


#: stop-fingerprint guard for the leakage join — same absolute-df policy
#: as textops.fingerprint_edges' _DC_MAX_DF: a winnow fingerprint shared
#: by more than this many documents is boilerplate, not leakage evidence
_SLA_MAX_DF = 64


@_q(
    "split_leakage_audit",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             {_spl_sql_case("md5(lower(trim(text)))")} AS split
      FROM documents
    ),
    eligible AS (SELECT * FROM d WHERE len(toks) >= 8),
    grams AS (
      SELECT doc_id, split,
             list_transform(generate_series(1, len(toks) - 4),
                            i -> md5(array_to_string(toks[i:i+4], ' '))) AS g
      FROM eligible
    ),
    fpl AS (
      SELECT doc_id, split,
             list_transform(generate_series(1, len(g) - 3),
                            j -> list_min(g[j:j+3])) AS f
      FROM grams
    ),
    fps AS (SELECT DISTINCT doc_id, split, unnest(f) AS fp FROM fpl),
    guarded AS (
      SELECT * FROM (
        SELECT doc_id, split, fp,
               count(*) OVER (PARTITION BY fp) AS df
        FROM fps
      ) WHERE df <= {_SLA_MAX_DF}
    ),
    train_pairs AS (
      SELECT fp, doc_id AS train_doc FROM guarded WHERE split = 'train'
    ),
    eval_pairs AS (
      SELECT doc_id, split, fp FROM guarded WHERE split != 'train'
    ),
    audited AS (
      SELECT e.doc_id,
             max(e.split) AS split,
             count(DISTINCT e.fp) AS n_fps,
             count(DISTINCT CASE WHEN t.train_doc IS NOT NULL
                                 THEN e.fp END) AS n_shared_fps,
             count(DISTINCT t.train_doc) AS n_train_docs
      FROM eval_pairs e LEFT JOIN train_pairs t USING (fp)
      GROUP BY e.doc_id
    )
    SELECT doc_id, split,
           CAST(n_fps AS BIGINT) AS n_fps,
           CAST(n_shared_fps AS BIGINT) AS n_shared_fps,
           CAST(n_train_docs AS BIGINT) AS n_train_docs,
           round(CAST(n_shared_fps AS DOUBLE) / n_fps, 4) AS leak_share
    FROM audited WHERE n_shared_fps >= 1
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Cross-split contamination audit — the measurement half of
    `split_assign`: for every valid/test document, how much of its
    winnowed fingerprint set (k=5, w=4 — any shared run of >= 8 tokens is
    guaranteed to share a fingerprint) also appears in SOME train
    document.  Exact duplicates cannot leak (the split key is the content
    hash), so every row here is near-duplicate / partial-overlap leakage
    — the quantity Lee et al. 2022 showed survives naive splitting.
    Delta-only output: documents with zero shared fingerprints don't emit
    a row (crawl_diff_report's convention).

    Plan at scale: ONE fingerprint pass — the gram/winnow select is
    map-side, the df-guard is a window over the fp key, and BOTH sides
    of the eval-vs-train join are filters of that same windowed frame
    (the fp exchange prints once and is REUSED, verified by plan gate);
    the left join preserves unmatched eval fingerprints so totals,
    shared counts and train-doc counts all come out of ONE per-doc
    aggregate — no second corpus scan, no join back.  The df-guard is
    the load-bearing scale bound: dropping fingerprints with df >
    {_SLA_MAX_DF} (the fingerprint_edges policy) caps the join fan-out
    per fingerprint, so no boilerplate fingerprint can quadratically
    explode the join at 10^12 documents.  Output is bounded by the
    leaking-doc count."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    d = docs.select(
        "doc_id", _spl_spark_split(fp).alias("split"), "text"
    )
    fps = textops.winnow_fingerprints(d, k=5, w=4, extra_cols=("split",))
    # Both join sides are filters of this frame, but column pruning
    # pushes a different projection below the shared exchange per side,
    # defeating exchange reuse — without a barrier the md5 gram pass
    # (the dominant map cost) would run TWICE over the corpus.
    # localCheckpoint is that barrier (the dedup_clusters device):
    # the fingerprint pass runs once, both sides read the materialized
    # guarded table.
    guarded = (
        fps.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("df") <= _SLA_MAX_DF)
        .localCheckpoint(eager=False)
    )
    train_pairs = guarded.filter(F.col("split") == "train").select(
        "fp", F.col("doc_id").alias("train_doc")
    )
    eval_pairs = guarded.filter(F.col("split") != "train").select(
        "doc_id", "split", "fp"
    )
    audited = (
        eval_pairs.join(train_pairs, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.max("split").alias("split"),
            F.countDistinct("fp").alias("n_fps"),
            F.countDistinct(
                F.when(F.col("train_doc").isNotNull(), F.col("fp"))
            ).alias("n_shared_fps"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    return audited.filter(F.col("n_shared_fps") >= 1).select(
        "doc_id",
        "split",
        F.col("n_fps").cast("long").alias("n_fps"),
        F.col("n_shared_fps").cast("long").alias("n_shared_fps"),
        F.col("n_train_docs").cast("long").alias("n_train_docs"),
        F.round(
            F.col("n_shared_fps").cast("double") / F.col("n_fps"), 4
        ).alias("leak_share"),
    )


#: token budget as a multiple of the corpus (2x forces some epochs > 1)
_MIX_BUDGET_X = 2.0
#: repeat-data ceiling: >4 epochs is where repeated tokens stop helping
#: (Muennighoff et al. 2023, "Scaling Data-Constrained Language Models")
_MIX_EPOCH_CAP = 4.0


@_q(
    "mixture_plan_report",
    f"""
    WITH c AS (
      SELECT source,
             1 + CAST(substr(source, 4) AS INT) % 4 AS w,
             sum(len(string_split(trim(text), ' '))) AS n_tokens
      FROM documents
      WHERE trim(text) != ''
      GROUP BY 1
    ),
    s AS (SELECT sum(w) AS sumw, sum(n_tokens) AS total FROM c)
    SELECT source,
           CAST(w AS BIGINT) AS weight,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(w AS DOUBLE) / sumw, 6) AS target_share,
           CAST(round(CAST(w AS DOUBLE) / sumw * {_MIX_BUDGET_X!r} * total)
                AS BIGINT) AS tokens_requested,
           round(CAST(w AS DOUBLE) / sumw * {_MIX_BUDGET_X!r} * total
                 / n_tokens, 4) AS epochs,
           CAST(CAST(w AS DOUBLE) / sumw * {_MIX_BUDGET_X!r} * total
                / n_tokens > {_MIX_EPOCH_CAP!r} AS INT) AS over_epoch_cap
    FROM c, s
    """,
)
def mixture_plan_report(spark, sf_dir):
    """Data-mixture budget planner — the recipe table a training run is
    configured from: given per-source token inventories and target mix
    weights (here a deterministic function of the source name standing in
    for the config constants a real run supplies), compute each source's
    target share, requested token count at a fixed total budget
    (_MIX_BUDGET_X=2x the corpus), implied epoch count
    (requested/available — > 1 means the source repeats), and flag
    sources pushed past the _MIX_EPOCH_CAP=4-epoch repeat-data ceiling
    of Muennighoff et al. 2023.  Complements `temperature_mix_sample`
    (which derives rates from counts^alpha and SAMPLES) by planning
    against explicit target weights and REPORTING.

    Plan at scale: one bounded groupBy (one row per source), a 1-row
    totals aggregate broadcast back — the corpus is scanned exactly
    once; output is source-cardinality."""
    d = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    c = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), " "))).alias("n_tokens")
    ).select(
        "source",
        (1 + F.substring(F.col("source"), 4, 10).cast("int") % 4).alias("w"),
        "n_tokens",
    )
    s = c.agg(F.sum("w").alias("sumw"), F.sum("n_tokens").alias("total"))
    share = F.col("w").cast("double") / F.col("sumw")
    requested = share * _MIX_BUDGET_X * F.col("total")
    epochs = share * _MIX_BUDGET_X * F.col("total") / F.col("n_tokens")
    return c.crossJoin(F.broadcast(s)).select(
        "source",
        F.col("w").cast("long").alias("weight"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(share, 6).alias("target_share"),
        F.round(requested, 0).cast("long").alias("tokens_requested"),
        F.round(epochs, 4).alias("epochs"),
        (epochs > _MIX_EPOCH_CAP).cast("int").alias("over_epoch_cap"),
    )


#: image aHash demo geometry: images (doc_id % 3 == 0, the attach_payloads
#: media-type convention) cluster into groups of near-identical thumbnails
#: via doc_id % _AHS_GROUPS; variant v = doc_id // _AHS_GROUPS perturbs a
#: few pixels (v % 4 == 0 members are byte-identical)
_AHS_GROUPS = 30
_AHS_BLOCKS = 8
_AHS_MAX_HAMMING = 6

_AHS_PX_SQL = _sql_hex_bigint(
    "md5('img:' || CAST(grp AS VARCHAR) || ':' || CAST(i AS VARCHAR))", 2
)


def _ahash_fingerprints(docs):
    """(doc_id, fp): 64-bit average-hash fingerprints from a deterministic
    fake thumbnail decode — pixel i is md5-derived from the image's dedup
    GROUP (so group members share a base image) plus a variant-dependent
    bump on a few pixels (so non-canonical variants are NEAR-identical,
    not identical).  The mean is an exact binary value (integer sum / 64)
    so the per-bit comparisons are engine-exact.  The two chained selects
    keep the pixel array from being recomputed per consumer."""
    grp = (F.col("doc_id") % _AHS_GROUPS).cast("long")
    v = F.floor(F.col("doc_id") / _AHS_GROUPS).cast("long")

    def px(i):
        h = F.md5(
            F.concat(
                F.lit("img:"), grp.cast("string"), F.lit(":"), i.cast("string")
            )
        )
        base = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
        bump = (
            F.when(v % 4 == 0, F.lit(0))
            .when((i + v) % 7 == 0, ((v % 4) * 37).cast("int"))
            .otherwise(F.lit(0))
        )
        return (base + bump) % 256

    pixels = F.transform(F.sequence(F.lit(0), F.lit(63)), px)
    withpx = docs.select("doc_id", pixels.alias("px"))
    mean = F.aggregate(
        F.col("px"), F.lit(0).cast("long"), lambda a, x: a + x
    ) / F.lit(64.0)
    withmean = withpx.select("doc_id", "px", mean.alias("mean"))
    fp = F.array_join(
        F.transform(
            F.col("px"),
            lambda p: F.when(p > F.col("mean"), F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )
    return withmean.select("doc_id", fp.alias("fp"))


@_q(
    "image_ahash_neardup",
    f"""
    WITH img AS (
      SELECT doc_id, doc_id % 30 AS grp, doc_id // 30 AS v
      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 300
    ),
    px AS (
      SELECT doc_id,
             list_transform(generate_series(0, 63), i ->
               (({_AHS_PX_SQL}) + (CASE WHEN v % 4 = 0 THEN 0
                                       WHEN (i + v) % 7 = 0 THEN (v % 4) * 37
                                       ELSE 0 END)) % 256) AS p
      FROM img
    ),
    fp AS (
      SELECT doc_id, array_to_string(
               list_transform(p, x -> CASE WHEN x > list_sum(p) / 64.0
                                           THEN '1' ELSE '0' END), '') AS f
      FROM px
    ),
    blocks AS (SELECT doc_id, b, substr(f, CAST(b * 8 + 1 AS INT), 8) AS bv
               FROM fp, range(8) r(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM blocks a JOIN blocks c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
    ),
    ham AS (
      SELECT doc_a, doc_b,
             len(list_filter(generate_series(1, 64),
                 i -> substr(x.f, CAST(i AS INT), 1)
                      != substr(y.f, CAST(i AS INT), 1))) AS hamming
      FROM cand JOIN fp x ON x.doc_id = doc_a JOIN fp y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
    FROM ham WHERE hamming <= {_AHS_MAX_HAMMING}
    """,
)
def image_ahash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate IMAGE pairs — the multimodal member
    of the dedup family (exact / MinHash / SimHash cover text; re-crawled
    logos, resized thumbnails and re-encoded images need a pixel-space
    hash): decode each image payload to an 8x8 grayscale thumbnail,
    average-hash it (bit = pixel > mean, the classic aHash), and find
    pairs within Hamming distance {_AHS_MAX_HAMMING} via
    textops.hamming_block_pairs — the SAME Manku block-permutation
    machinery the text SimHash tier uses ({_AHS_BLOCKS} blocks of 8 bits:
    pigeonhole recall is EXACT up to Hamming {_AHS_BLOCKS}-1).

    The thumbnail decode here is the deterministic stub tier of the
    multimodal seam (no PIL in this container — spark/multimodal.py's
    decode_auto pattern): pixels are md5-derived closed-form so the
    DuckDB oracle replays them, while the hash/banding/verify plumbing is
    the production path.  Images sharing a dedup group differ only by a
    deterministic few-pixel perturbation, giving the demo real near-dups
    (variant % 4 == 0 members are byte-identical, Hamming 0).

    Plan at scale: the decode+hash is ONE narrow map pass (64 md5s/image,
    no Python); candidates come from one equi-join on (block, value) —
    nothing all-pairs; the verify lookup is semi-joined to the collision
    set and UNHINTED.  Demo bounded to doc_id < 300 like the other
    pairwise demos."""
    imgs = _docs(spark, sf_dir).filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 300)
    )
    fps = _ahash_fingerprints(imgs)
    return textops.hamming_block_pairs(
        fps, bits=64, block_count=_AHS_BLOCKS,
        max_hamming=_AHS_MAX_HAMMING, fp_col="fp",
    )


#: product-quantization geometry: 64-dim embeddings split into M=8
#: subvectors of 8 dims, each quantized against K=16 codewords (the
#: embeddings of vec_id < 16 stand in for per-subspace k-means output,
#: the ivf demo's convention) -> 8 bytes/vector instead of 256
_PQ_M = 8
_PQ_DSUB = 8
_PQ_TRAIN_K = 16

#: shared oracle CTE chain: double-cast vectors, positional sub-codebooks,
#: per-(vector, subspace) squared distances, argmin codes
_PQ_CTES = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                  CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 16),
    d AS (
      SELECT e.vec_id, m.m, cb.code,
             list_sum(list_transform(generate_series(1, 8),
               j -> (ve[m.m * 8 + j] - cv[m.m * 8 + j])
                    * (ve[m.m * 8 + j] - cv[m.m * 8 + j]))) AS dist
      FROM e, range(8) m(m), cb
    ),
    best AS (
      SELECT vec_id, m, code, dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
        FROM d) WHERE rn = 1
    )
"""


def _pq_codebooks(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.pq_codebooks_from_vectors(
        emb.filter(F.col("vec_id") < _PQ_TRAIN_K), _PQ_M, _PQ_DSUB
    )


@_q(
    "pq_codes",
    f"""
    WITH {_PQ_CTES}
    SELECT vec_id,
           list(code ORDER BY m) AS codes,
           round(list_sum(list(dist ORDER BY m)), 4) AS recon_err
    FROM best GROUP BY vec_id
    """,
)
def pq_codes(spark, sf_dir):
    """Product-quantization ENCODE (Jegou/Douze/Schmid, TPAMI 2011) — the
    memory-compression half of a FAISS-style IVF-PQ index, completing the
    ANN story next to ivf_train/ann_ivf_topk: each 64-dim vector becomes
    M={_PQ_M} one-byte codes (argmin codeword per 8-dim subspace) plus its
    summed quantization error — a 32x shrink that is the difference
    between 10^12 vectors fitting in cluster memory or not.  Codebooks
    here are the bounded vec_id < {_PQ_TRAIN_K} slice standing in for
    per-subspace k-means output (`ivf_train` shows the training shape).

    Plan at scale: codebooks are K*dsub*M floats REGARDLESS of corpus
    size, collected once (the collect_codebook bounded-by-construction
    contract) and inlined as literals, so encoding is a pure narrow
    projection — zero exchanges, zero joins, no Python (plan-gated
    pq_codes_map_only).  All arithmetic forced to double on both engines;
    the fold orders of every distance sum match the oracle's list_sum
    element order, so values are bit-identical, not merely close."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    enc = textops.pq_encode(emb, _pq_codebooks(spark, sf_dir), _PQ_DSUB)
    return enc.select(
        "vec_id", "codes", F.round("recon_err", 4).alias("recon_err")
    )


@_q(
    "ann_pq_topk",
    f"""
    WITH {_PQ_CTES},
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    t AS (
      SELECT m.m, cb.code,
             list_sum(list_transform(generate_series(1, 8),
               j -> (qv[m.m * 8 + j] - cv[m.m * 8 + j])
                    * (qv[m.m * 8 + j] - cv[m.m * 8 + j]))) AS qd
      FROM q, range(8) m(m), cb
    ),
    adc AS (
      SELECT b.vec_id, round(list_sum(list(t.qd ORDER BY b.m)), 4) AS adc_dist
      FROM best b JOIN t ON t.m = b.m AND t.code = b.code
      WHERE b.vec_id != 0
      GROUP BY b.vec_id
    ),
    short AS (
      SELECT vec_id, adc_dist FROM (
        SELECT *, row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM adc) WHERE rn <= 50
    ),
    rer AS (
      SELECT s.vec_id, s.adc_dist,
             round(
               list_sum(list_transform(generate_series(1, 64), j -> ve[j] * qv[j]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), j -> ve[j] * ve[j])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64), j -> qv[j] * qv[j])))),
               4) AS cosine
      FROM short s JOIN e ON e.vec_id = s.vec_id, q
    )
    SELECT vec_id, adc_dist, cosine FROM (
      SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM rer) WHERE rn <= 10
    """,
)
def ann_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k with exact re-rank
    (textops.pq_adc_topk) — the SEARCH half of the PQ story: the query's
    per-subspace lookup tables (M*K = {_PQ_M * _PQ_TRAIN_K} doubles,
    independent of corpus size) are computed driver-side and inlined, so
    the scan reads each vector's {_PQ_M} CODES only — never its floats —
    and scores it with {_PQ_M} table lookups + adds.  The top-50 ADC
    shortlist compiles to a per-partition heap (TakeOrderedAndProject,
    never a corpus sort), and ONLY those 50 rows are exactly re-ranked by
    true cosine (the FAISS refine stage).  Ranking keys are rounded to
    4dp with a vec_id tiebreak so the k-boundary never depends on
    last-ulp differences.  Query: vec_id 0 (one bounded row collected)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:
        # no query vector (empty corpus): empty result, stable schema
        return emb.select(
            "vec_id",
            F.lit(None).cast("double").alias("adc_dist"),
            F.lit(None).cast("double").alias("cosine"),
        ).filter(F.lit(False))
    qvec = [float(x) for x in qrow[0]]
    return textops.pq_adc_topk(
        emb,
        _pq_codebooks(spark, sf_dir),
        _PQ_DSUB,
        qvec,
        k=10,
        shortlist=50,
        exclude_id=0,
    )


@_q(
    "ann_ivfpq_topk",
    f"""
    WITH {_PQ_CTES},
    c AS (SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e0.vec_id, c.centroid_id,
             list_dot_product(e0.embedding, c.cvec)
             / (sqrt(list_dot_product(e0.embedding, e0.embedding))
                * sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
      FROM embeddings e0, c
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (SELECT centroid_id FROM assigned WHERE vec_id = 0),
    probe AS (
      SELECT a.vec_id FROM assigned a, qc
      WHERE a.centroid_id = qc.centroid_id AND a.vec_id != 0
    ),
    t AS (
      SELECT m.m, cb.code,
             list_sum(list_transform(generate_series(1, 8),
               j -> (qv[m.m * 8 + j] - cv[m.m * 8 + j])
                    * (qv[m.m * 8 + j] - cv[m.m * 8 + j]))) AS qd
      FROM q, range(8) m(m), cb
    ),
    adc AS (
      SELECT b.vec_id, round(list_sum(list(t.qd ORDER BY b.m)), 4) AS adc_dist
      FROM best b JOIN probe p ON p.vec_id = b.vec_id
                  JOIN t ON t.m = b.m AND t.code = b.code
      GROUP BY b.vec_id
    ),
    short AS (
      SELECT vec_id, adc_dist FROM (
        SELECT *, row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM adc) WHERE rn <= 50
    ),
    rer AS (
      SELECT s.vec_id, s.adc_dist,
             round(
               list_sum(list_transform(generate_series(1, 64), j -> ve[j] * qv[j]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), j -> ve[j] * ve[j])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64), j -> qv[j] * qv[j])))),
               4) AS cosine
      FROM short s JOIN e ON e.vec_id = s.vec_id, q
    )
    SELECT vec_id, adc_dist, cosine FROM (
      SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM rer) WHERE rn <= 10
    """,
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ search — the two halves composed into the actual FAISS-style
    index a 10^12-vector deployment runs: the IVF coarse quantizer
    (`ivf_assign`, inlined 8-centroid codebook) bounds WHICH vectors the
    query touches (~1/C of the corpus, and the assignment doubles as the
    storage partitioning key), and PQ bounds what each touched vector
    COSTS (8 code-byte lookups via the inlined ADC tables — its floats
    are read only if it survives into the 50-row exact-re-rank
    shortlist).  Coarse assignment, probe filter, PQ encode and ADC are
    ALL narrow map-side expressions, so the whole search is scan ->
    filter -> two TakeOrderedAndProject heaps: ZERO exchanges at any
    corpus size (plan-gated).  The query's own coarse cell comes from a
    1-row bounded Spark job at plan time (never a corpus action).
    Simplification vs production FAISS, documented: PQ encodes the raw
    vector, not the residual (vector - centroid) — residual encoding
    drops quantization error but needs a per-cell codebook pass
    (`ivf_train` shows the shape).  Query: vec_id 0."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coarse = textops.collect_codebook(emb.filter(F.col("vec_id") < 8))
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None or not coarse:
        return emb.select(
            "vec_id",
            F.lit(None).cast("double").alias("adc_dist"),
            F.lit(None).cast("double").alias("cosine"),
        ).filter(F.lit(False))
    qvec = [float(x) for x in qrow[0]]
    qc = int(
        textops.ivf_assign(emb.filter(F.col("vec_id") == 0), coarse)
        .head()["centroid_id"]
    )
    probe = textops.ivf_assign(emb, coarse).filter(
        (F.col("centroid_id") == qc) & (F.col("vec_id") != 0)
    )
    return textops.pq_adc_topk(
        probe, _pq_codebooks(spark, sf_dir), _PQ_DSUB, qvec, k=10, shortlist=50
    )


@_q(
    "pq_residual_report",
    f"""
    WITH {_PQ_CTES},
    c AS (SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e0.vec_id, c.centroid_id,
             list_dot_product(e0.embedding, c.cvec)
             / (sqrt(list_dot_product(e0.embedding, e0.embedding))
                * sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
      FROM embeddings e0, c
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    r AS (
      SELECT e.vec_id, a.centroid_id,
             list_transform(generate_series(1, 64),
               j -> ve[j] - CAST(cv2.cvec AS DOUBLE[])[j]) AS rv
      FROM e JOIN assigned a USING (vec_id)
             JOIN c cv2 ON cv2.centroid_id = a.centroid_id
    ),
    rcb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rv AS rcv
            FROM r WHERE vec_id < 16),
    rd AS (
      SELECT r.vec_id, m.m, rcb.code,
             list_sum(list_transform(generate_series(1, 8),
               j -> (rv[m.m * 8 + j] - rcv[m.m * 8 + j])
                    * (rv[m.m * 8 + j] - rcv[m.m * 8 + j]))) AS dist
      FROM r, range(8) m(m), rcb
    ),
    rbest AS (
      SELECT vec_id, m, dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
        FROM rd) WHERE rn = 1
    ),
    raw AS (SELECT vec_id, list_sum(list(dist ORDER BY m)) AS recon_raw
            FROM best GROUP BY vec_id),
    res AS (SELECT vec_id, list_sum(list(dist ORDER BY m)) AS recon_res
            FROM rbest GROUP BY vec_id)
    SELECT rr.vec_id, CAST(rr.centroid_id AS BIGINT) AS centroid_id,
           round(raw.recon_raw, 4) AS recon_raw,
           round(res.recon_res, 4) AS recon_res,
           res.recon_res < raw.recon_raw AS improved
    FROM (SELECT DISTINCT vec_id, centroid_id FROM r) rr
         JOIN raw USING (vec_id) JOIN res USING (vec_id)
    """,
)
def pq_residual_report(spark, sf_dir):
    """Residual-PQ quantization audit — the production FAISS refinement
    `ann_ivfpq_topk`'s docstring defers, implemented and MEASURED: encode
    each vector's RESIDUAL (vector - its IVF centroid) instead of the raw
    vector, and report both quantization errors side by side.  Residual
    encoding pays when the coarse centroids are true cluster MEANS
    (residuals then concentrate near the origin, so the codebook budget
    covers a tighter distribution — why production IVF-PQ encodes
    residuals); it HURTS when they are not.  This demo deliberately runs
    the audit against the serving path's stand-in quantizer (8 arbitrary
    corpus vectors, not k-means means — `ivf_train` is the trained
    alternative), and the audit correctly returns the negative verdict:
    subtracting a non-mean vector INFLATES variance, improved=false
    corpus-wide at sf0.01.  That is the audit doing its job — catching a
    misconfigured index before a 10^12-vector build, the same
    measure-don't-assume contract as `lsh_recall_report` and
    `ann_recall_report`.  Residual sub-codebooks come from the residuals
    of the SAME bounded training slice the raw path uses.

    Plan at scale: coarse assignment, the centroid lookup (an inlined
    8-row array indexed by centroid_id), the residual subtraction and
    BOTH encodes are narrow map-side expressions chained in one
    projection pipeline — ZERO exchanges, zero joins, no Python
    (plan-gated pq_residual_map_only); `improved` compares the UNROUNDED
    sums, bit-identical on both engines by the shared fold orders."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coarse = sorted(
        textops.collect_codebook(emb.filter(F.col("vec_id") < 8))
    )
    if not coarse:
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("centroid_id"),
            F.lit(None).cast("double").alias("recon_raw"),
            F.lit(None).cast("double").alias("recon_res"),
            F.lit(None).cast("boolean").alias("improved"),
        )
    assigned = textops.ivf_assign(emb, coarse)
    # centroid ids are dense 0..7 here, so the centroid VECTOR lookup is
    # an element_at into an inlined 8-row array — still map-side
    cvecs = F.array(
        *[F.array(*[F.lit(float(x)) for x in vec]) for _cid, vec in coarse]
    )
    resid = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.element_at(cvecs, F.col("centroid_id").cast("int") + 1),
        lambda x, y: x - y,
    )
    rframe = assigned.select(
        "vec_id", "embedding", "centroid_id", resid.alias("resid")
    )
    cb_res = textops.pq_codebooks_from_vectors(
        rframe.filter(F.col("vec_id") < _PQ_TRAIN_K),
        _PQ_M,
        _PQ_DSUB,
        vec_col="resid",
    )
    step1 = textops.pq_encode(
        rframe,
        _pq_codebooks(spark, sf_dir),
        _PQ_DSUB,
        keep_cols=("centroid_id", "resid"),
    ).select(
        "vec_id",
        "centroid_id",
        "resid",
        F.col("recon_err").alias("recon_raw"),
    )
    step2 = textops.pq_encode(
        step1,
        cb_res,
        _PQ_DSUB,
        vec_col="resid",
        keep_cols=("centroid_id", "recon_raw"),
    )
    return step2.select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("recon_raw", 4).alias("recon_raw"),
        F.round("recon_err", 4).alias("recon_res"),
        (F.col("recon_err") < F.col("recon_raw")).alias("improved"),
    )


#: Zipf audit geometry: top-K token ranks fitted by least squares on
#: log10-log10 (a healthy natural-language corpus fits slope ~ -1;
#: boilerplate-flooded or synthetic corpora bend the curve)
_ZIPF_TOP_K = 64


@_q(
    "corpus_zipf_report",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE trim(text) != ''
    ),
    cnt AS (SELECT token, count(*) AS cnt FROM tok WHERE token != '' GROUP BY token),
    top AS (
      SELECT token, cnt FROM cnt
      ORDER BY cnt DESC, token ASC LIMIT {_ZIPF_TOP_K}
    ),
    ranked AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
      FROM top
    ),
    xy AS (
      SELECT token, cnt, rank,
             log10(CAST(rank AS DOUBLE)) AS x, log10(CAST(cnt AS DOUBLE)) AS y
      FROM ranked
    ),
    fit AS (
      SELECT *,
             count(*) OVER () AS n,
             sum(x) OVER () AS sx, sum(y) OVER () AS sy,
             sum(x * y) OVER () AS sxy, sum(x * x) OVER () AS sxx
      FROM xy
    )
    SELECT CAST(rank AS INT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
           round(y, 4) AS log_cnt,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 + (n * sxy - sx * sy) / (n * sxx - sx * sx) * x, 4)
             AS fit_log_cnt
    FROM fit
    """,
)
def corpus_zipf_report(spark, sf_dir):
    """Zipf rank-frequency audit — the corpus-statistics row of a data
    card next to `source_data_card`'s volume numbers: the top-{_ZIPF_TOP_K}
    token frequencies with a least-squares log10-log10 fit (rank vs
    count).  Natural language sits near slope -1 (Zipf's law); a corpus
    flooded with boilerplate (one phrase dominating), templated spam, or
    synthetic text bends the head or the slope — this is the one-glance
    distribution check run per source/snapshot before training.

    Plan at scale: ONE vocabulary-sized map-combined aggregate (the
    tf_idf df shape), a {_ZIPF_TOP_K}-row per-partition heap
    (TakeOrderedAndProject — never a corpus sort), then ranking,
    regression sums and fitted values as windows over the {_ZIPF_TOP_K}
    bounded rows (the single-partition window is {_ZIPF_TOP_K} rows by
    construction, not a corpus).  Ranking is integer-count ordered with
    a token tiebreak, so the K-boundary never depends on float libm;
    the log10/regression doubles are display values rounded to 4dp
    (the tf_idf/bm25 discipline)."""
    from pyspark.sql import Window

    tok = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = cnt.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(
        _ZIPF_TOP_K
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = top.select(
        "token", "cnt", F.row_number().over(w).alias("rank")
    )
    x = F.log10(F.col("rank").cast("double"))
    y = F.log10(F.col("cnt").cast("double"))
    xy = ranked.select("token", "cnt", "rank", x.alias("x"), y.alias("y"))
    wa = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ).orderBy("rank")
    fit = xy.select(
        "*",
        F.count(F.lit(1)).over(wa).alias("n"),
        F.sum("x").over(wa).alias("sx"),
        F.sum("y").over(wa).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wa).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wa).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return fit.select(
        F.col("rank").cast("int").alias("rank"),
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("y", 4).alias("log_cnt"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept + slope * F.col("x"), 4).alias("fit_log_cnt"),
    )


#: frozen eval-holdout quota per language stratum
_EHS_QUOTA = 20


@_q(
    "eval_holdout_sample",
    f"""
    SELECT doc_id, lang, CAST(rn AS INT) AS holdout_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('holdout:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= {_EHS_QUOTA}
    """,
)
def eval_holdout_sample(spark, sf_dir):
    """Frozen eval-holdout construction — EXACTLY {_EHS_QUOTA} documents
    per language stratum (or the whole stratum when smaller), selected
    by hash order (md5 of a salted doc key, doc_id tiebreak): the fixed-
    SIZE companion to `sample_stratified`'s fixed-RATE sampler.  The two
    guarantees differ and teams need both: rate sampling is stable under
    corpus growth (a kept doc stays kept forever — right for training
    mixes), while quota sampling pins an eval set's exact size and
    balance for a FIXED snapshot (right for frozen benchmark splits,
    where adding corpus must instead trigger re-freezing, not silent
    drift — pair with `split_assign`, whose content-keyed splits the
    holdout should be drawn from in production).  No rand(): the same
    snapshot yields the same holdout on every engine, run and retry.

    Plan at scale: ONE exchange (the per-stratum ranking window, keyed
    on lang) and a rank filter — no joins, no Python; the window's
    per-partition state is one counter, and with |langs| strata the
    output is bounded at |langs| * {_EHS_QUOTA} rows regardless of
    corpus size.  At 10^12 docs one would pre-filter with
    `sample_stratified` at a generous rate first so the window sees a
    sliver, then quota-rank that sliver — same plan shape, documented
    here as the composition."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("holdout:"), F.col("doc_id").cast("string"))).asc(),
        F.col("doc_id").asc(),
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _EHS_QUOTA)
        .select("doc_id", "lang", F.col("rn").cast("int").alias("holdout_rank"))
    )


#: demo tag dictionary (term -> category) standing in for the config
#: artifact a compliance/brand-safety pass ships (UT1-style category
#: term lists, typically 10^3-10^5 terms — bounded by construction, a
#: config file, never corpus-derived); shared verbatim with the oracle
_KWT_RULES = [
    ("join", "relational"), ("merge", "relational"), ("agg", "relational"),
    ("group", "relational"), ("sort", "relational"),
    ("stream", "streaming"), ("window", "streaming"), ("batch", "streaming"),
    ("slow", "perf"), ("fast", "perf"), ("big", "perf"), ("small", "perf"),
]
#: a document is flagged for a tag at >= this many hits (multiple
#: occurrences, not merely presence — the usual precision lever)
_KWT_FLAG_HITS = 3

_KWT_RULES_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS term, '{g}' AS tag" for t, g in _KWT_RULES
)


@_q(
    "keyword_tag_report",
    f"""
    WITH rules AS ({_KWT_RULES_SQL}),
    tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
      FROM documents WHERE trim(text) != ''
    )
    SELECT doc_id, tag,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
           count(*) >= {_KWT_FLAG_HITS} AS flagged
    FROM tok JOIN rules USING (term)
    GROUP BY doc_id, tag
    """,
)
def keyword_tag_report(spark, sf_dir):
    """Dictionary-based content tagging — the brand-safety / compliance /
    topic-tagging lane (the body-text complement to `url_blocklist_filter`'s
    URL-level rules): every document is scored against a category term
    dictionary, emitting per (doc, tag) hit and distinct-term counts plus
    a flagged verdict at >= {_KWT_FLAG_HITS} hits (occurrence count, not
    mere presence — the standard precision lever).  The dictionary here
    is a 12-term stand-in for the config artifact a real pass ships
    (UT1-style category lists, 10^3-10^5 terms).

    Plan at scale: the dictionary is bounded BY CONSTRUCTION (a config
    file, never corpus-derived), so it broadcasts — the token stream is
    filtered down to dictionary matches map-side by the broadcast hash
    join BEFORE anything shuffles; the two exchanges that remain — the
    distinct-term grain and the (doc, tag) rollup — are both over
    surviving HIT volume (bounded by the dictionary), never raw token
    volume.  Output is delta-only: documents with zero dictionary hits
    emit no rows (the crawl_diff_report convention)."""
    rules = spark.createDataFrame(_KWT_RULES, "term string, tag string")
    tok = (
        _docs(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("term")
        )
    )
    return (
        tok.join(F.broadcast(rules), "term")
        .groupBy("doc_id", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("term").alias("n_terms"),
            (F.count(F.lit(1)) >= _KWT_FLAG_HITS).alias("flagged"),
        )
    )


@_q(
    "langid_confusion_report",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_ngram_score_sql(_NGRAM_PROFILES["en"])} AS s_en,
             {_ngram_score_sql(_NGRAM_PROFILES["de"])} AS s_de,
             {_ngram_score_sql(_NGRAM_PROFILES["fr"])} AS s_fr,
             {_ngram_score_sql(_NGRAM_PROFILES["es"])} AS s_es
      FROM documents
    ),
    pred AS (SELECT lang, {_LANGID_CASE_SQL} AS lang_guess FROM scored),
    cell AS (SELECT lang, lang_guess, count(*) AS n FROM pred GROUP BY 1, 2)
    SELECT lang, lang_guess, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 4)
             AS row_share,
           lang = lang_guess AS correct
    FROM cell
    """,
)
def langid_confusion_report(spark, sf_dir):
    """Language-ID confusion matrix — the accuracy report every pipeline
    publishes for its lang-ID tier before trusting per-language sampling
    rates, CCNet buckets, or mix weights downstream: the trigram
    detector's prediction (the SAME shared scoring + argmax expressions
    `lang_id_ngram` serves — drift-proof by construction, the
    filter_funnel_report discipline) cross-tabulated against the
    corpus's labeled lang column, with per-true-language recall shares.
    Misroutes here silently corrupt every per-language decision, which
    is why the matrix (not just overall accuracy) is the artifact.

    Plan at scale: scoring and argmax are narrow map-side expressions,
    ONE bounded (|langs| x |guesses|) aggregate, and the share window
    runs over those few cells — a single corpus-side exchange."""
    s = _langid_scores()
    from pyspark.sql import Window

    cell = (
        _docs(spark, sf_dir)
        .select("lang", _langid_pred_expr(s).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "lang_guess",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w), 4
        ).alias("row_share"),
        (F.col("lang") == F.col("lang_guess")).alias("correct"),
    )


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
