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
               ((strpos('{_HEX_DIGITS}', substr(md5(t), 1, 1)) - 1) * 16
                + (strpos('{_HEX_DIGITS}', substr(md5(t), 2, 1)) - 1)) % 64 + 1
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
               ((strpos('{_HEX_DIGITS}', substr(md5(t), 1, 1)) - 1) * 16
                + (strpos('{_HEX_DIGITS}', substr(md5(t), 2, 1)) - 1)) % 64 + 1
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
        f"((strpos('{_HEX_DIGITS}', substr(md5(t), 1, 1)) - 1) * 16"
        f" + (strpos('{_HEX_DIGITS}', substr(md5(t), 2, 1)) - 1)) % {dims}"
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
    train/apply pair alongside `bpe_train`/`bpe_tokenize`.

    Scale shape: per iteration the corpus is scanned once and NEVER
    shuffled — the gradient is ONE bounded aggregate whose output is D+1
    fixed-point integer sums regardless of corpus size (map-side combine
    caps the shuffle at D+1 values per task), and the weight update runs on 1-row frames broadcast back into
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
    The closed loop for the quality classifier: rule labels in, learned
    scorer out, corpus scored, keep = score >= 0.5.

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
    UDF; at 100 TB it rides the scan.  The signal/rule expressions are
    the shared `spark/quality.py::gopher_signals` builder."""
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


#: words per synthesized line for the C4 line rules (the corpus carries
#: no newlines, so line structure is synthesized deterministically on BOTH
#: engines as 8-word lines)
_GL_K = 8
_SQL_LINES0 = (
    f"list_transform(generate_series(0, CAST(ceil(len(arr)/{_GL_K}.0) AS INT) - 1),"
    f" i -> array_to_string(list_slice(arr, i*{_GL_K}+1, i*{_GL_K}+{_GL_K}), ' '))"
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
    both engines (8-word lines; doc_id%7 selects a
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


def _unigram_nll(docs):
    """Per-document mean negative log-likelihood under a corpus-derived
    unigram LM — the scoring core shared by ccnet_buckets and
    ccnet_pipeline.  Input must already be filtered to non-blank text.
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
    above `_unigram_nll`'s unigram stand-in, and still one notch
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
    query: language is DETECTED (the stopword-marker rule of
    `lang_id_heuristic` — CCNet runs fastText lang-id; the detected-not-
    declared distinction is the composition's point), every document is
    scored by LM perplexity (`_unigram_nll`, the swappable-model proxy),
    bucketed head/middle/tail against its DETECTED language's sampled
    tercile cutoffs (`_ccnet_bucketize`, shared with `ccnet_buckets`),
    and kept iff head or middle — CCNet's published selection.  CCNet's
    paragraph-dedup step runs upstream of this, documented rather than
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
    count.  The top-gram mode genuinely needs the count agg; three
    bounded linear shuffles is the honest 100-TB plan."""
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
    min-id member.  The 0.4 threshold keeps the semantic-dup graph
    non-trivially populated on this corpus.

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


#: topk_cosine oracle
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
    a row.

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
    # localCheckpoint is that barrier: the fingerprint pass runs once,
    # both sides read the materialized guarded table.
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
    of Muennighoff et al. 2023.  It plans against explicit target
    weights and REPORTS; it samples nothing.

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
    ANN story next to ann_ivf_topk: each 64-dim vector becomes
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
    card: the top-{_ZIPF_TOP_K}
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
    emit no rows."""
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
