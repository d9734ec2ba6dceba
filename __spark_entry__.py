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
#: in the DuckDB oracles (``strpos`` over it turns a hex char into 0..15)
_HEX_DIGITS = "0123456789abcdef"


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


# ------------------------------------------------------------ dedup family


def _sql_hex_bigint(expr, n):
    """DuckDB horner expansion: first n hex chars of `expr` -> BIGINT."""
    out = "CAST(0 AS BIGINT)"
    for i in range(1, n + 1):
        out = (
            f"({out} * 16 + (strpos('{_HEX_DIGITS}', substr({expr}, {i}, 1)) - 1))"
        )
    return out


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


# ----------------------------------------------------------- text analysis


#: interpolation weight for the bigram LM: p = L*p_bigram + (1-L)*p_unigram
_BIGRAM_LAMBDA = 0.75
#: per-bigram mean-NLL keep threshold (set at the fixture's median NLL so
#: the keep verdict genuinely splits; CCNet derives a production cutoff
#: from per-language sampled quantiles instead)
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
    """Interpolated bigram-LM perplexity filter — one notch below a full
    KenLM plug-in: p(w2|w1) = L*c(w1,w2)/c(w1) +
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
    Single-token documents have no bigram and drop out of the score."""
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
    has ~10^8 registered hosts), so the verdict join-back carries NO
    F.broadcast(): AQE measures the reputable-host frame at
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


# ------------------------------------ image near-dup and vector quantization


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
    memory-compression half of a FAISS-style IVF-PQ index (ann_ivfpq_topk
    composes it with the IVF probe): each 64-dim vector becomes
    M={_PQ_M} one-byte codes (argmin codeword per 8-dim subspace) plus its
    summed quantization error — a 32x shrink that is the difference
    between 10^12 vectors fitting in cluster memory or not.  Codebooks
    here are the bounded vec_id < {_PQ_TRAIN_K} slice standing in for
    per-subspace k-means output.

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
    drops quantization error but needs a per-cell codebook pass.
    Query: vec_id 0."""
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
    corpus vectors, not k-means means), and the audit correctly returns
    the negative verdict: subtracting a non-mean vector INFLATES variance, improved=false
    corpus-wide at sf0.01.  That is the audit doing its job — catching a
    misconfigured index before a 10^12-vector build, the same
    measure-don't-assume contract as `lsh_recall_report`.  Residual
    sub-codebooks come from the residuals of the SAME bounded training
    slice the raw path uses.

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
