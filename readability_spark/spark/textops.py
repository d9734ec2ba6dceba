"""Dataset-level text/similarity operators for training-data pipelines:
MinHash-LSH and SimHash near-dup detection, embedding near-dup and
IVF-bucketed approximate nearest neighbour.

Design rules (SURVEY.md section 2.5, task brief):

- every operator is pure DataFrame API over JVM-side built-ins — no Python
  UDFs in any hot path; hashes are md5 (identical across Spark / DuckDB, so
  each operator is closed-form oracle-checkable);
- determinism: no rand(); all "random" hash functions are seeded by an
  integer column mixed into the md5 input;
- scale: the LSH/banding paths are linear-ish (explode + groupBy, shuffle on
  (band, key)); the quadratic verify joins only ever run on LSH-candidate
  pairs, and the brute-force variants accept an explicit id bound so a
  100 TB table can never accidentally cross-join itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def tokens(docs: DataFrame, id_col="doc_id", text_col="text", max_df=None) -> DataFrame:
    """Distinct whitespace tokens per document (the token-set model used by
    Jaccard / MinHash / SimHash here).

    ``max_df`` is the structural skew guard for inverted-index self-joins:
    tokens appearing in more than ``max_df`` documents (stopwords, boilerplate
    phrases) are dropped.  Without it, a token present in k documents
    contributes k^2 rows to a token-equality self-join — one stopword across
    10^8 documents is a 10^16-row skew bomb.  The frequent-token set's size
    depends on the caller's max_df relative to the corpus (a tiny max_df on a
    diverse corpus can make it huge), so the anti-join carries no forced
    broadcast hint: AQE broadcasts it when it measures small and falls back
    to a shuffled anti-join otherwise, instead of an F.broadcast() that
    could OOM the driver on a pathological max_df."""
    tok = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .distinct()
    )
    if max_df is not None:
        frequent = (
            tok.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("token")
        )
        tok = tok.join(frequent, "token", "left_anti")
    return tok


_MINHASH_LANES = 4  # 8-hex-char lanes carved from one 32-hex md5 digest


def minhash_signatures(tok: DataFrame, num_hashes=16, id_col="doc_id") -> DataFrame:
    """(id, k, mh): for each of ``num_hashes`` hash functions, the minimum
    hash over the document's token set.

    Four independent hash lanes are carved from each md5 digest (hex chars
    1-8 / 9-16 / 17-24 / 25-32), so ``num_hashes`` functions cost only
    ``num_hashes/4`` md5 evaluations and a 4x smaller pre-aggregation
    explode; the per-lane minima aggregate as 4 map-side-combined min
    columns and only the tiny post-agg frame is exploded to (k, mh) rows.
    Hash function k = seed a*4 + lane b, mh = min lexicographic 8-hex
    chunk — portable to the DuckDB oracle verbatim."""
    assert num_hashes % _MINHASH_LANES == 0, "num_hashes must be a multiple of 4"
    n_seeds = num_hashes // _MINHASH_LANES
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1))).alias("a")
    hashed = tok.select(id_col, "token", seeds).select(
        id_col,
        "a",
        F.md5(F.concat(F.col("a").cast("string"), F.lit(":"), F.col("token"))).alias("h"),
    )
    agg = hashed.groupBy(id_col, "a").agg(
        *[
            F.min(F.substring("h", 1 + 8 * b, 8)).alias(f"m{b}")
            for b in range(_MINHASH_LANES)
        ]
    )
    return agg.select(
        id_col,
        "a",
        F.posexplode(F.array(*[F.col(f"m{b}") for b in range(_MINHASH_LANES)])).alias(
            "b", "mh"
        ),
    ).select(
        id_col,
        (F.col("a") * _MINHASH_LANES + F.col("b")).cast("int").alias("k"),
        "mh",
    )


def lsh_bands(signatures: DataFrame, band_size=4, id_col="doc_id") -> DataFrame:
    """(id, band, bkey): concatenate each band's minhashes (in k order) into
    one bucket key.  Docs sharing any (band, bkey) are candidate pairs."""
    return (
        signatures.withColumn("band", (F.col("k") / band_size).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("k", "mh"))),
                        lambda s: s.getField("mh"),
                    ),
                    "",
                )
            ).alias("bkey")
        )
    )


def lsh_candidate_pairs(
    tok: DataFrame, num_hashes=16, band_size=4, id_col="doc_id"
) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from MinHash banding: docs
    sharing any (band, bkey) bucket, joined on bucket equality only — the
    single pairwise step of the LSH tier, touching colliding docs only.
    Factored out of `minhash_lsh_pairs` so evaluation harnesses
    (`lsh_recall_report`) can measure the banding tier by itself."""
    bands = lsh_bands(minhash_signatures(tok, num_hashes, id_col), band_size, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes=16,
    band_size=4,
    threshold=0.5,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    shingle -> minhash -> band -> bucket-join: candidates come from an
    equi-join on (band, bkey) — the only pairwise step, and it touches only
    colliding docs.  Each candidate pair is then verified with true
    token-set Jaccard >= threshold.  Returns (doc_a, doc_b, jaccard)."""
    tok = tokens(docs, id_col, text_col)
    cand = lsh_candidate_pairs(tok, num_hashes, band_size, id_col)

    ta = tok.alias("ta")
    tb = tok.alias("tb")
    inter = (
        cand.join(ta, F.col("doc_a") == F.col(f"ta.{id_col}"))
        .join(
            tb,
            (F.col("doc_b") == F.col(f"tb.{id_col}"))
            & (F.col("ta.token") == F.col("tb.token")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # Size lookup for the verify tier.  sizes has ONE ROW PER INPUT
    # DOCUMENT (corpus cardinality) — a forced F.broadcast() here would
    # ship the whole corpus' key set to every executor and OOM the driver
    # at 10^12 docs.  Instead the frame is left-semi-joined down to docs
    # that actually appear in a candidate pair (bounded by the LSH
    # collision set, << corpus when banding does its job), and the join
    # strategy is left to AQE, which sees the post-semi-join size at
    # runtime and broadcasts only when that is actually small.
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sizes = (
        tok.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .join(cand_ids, id_col, "left_semi")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("doc_b") == F.col(f"sb.{id_col}"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash(docs: DataFrame, bits=32, id_col="doc_id", text_col="text") -> DataFrame:
    """(id, simhash): ``bits``-character bit-string fingerprint.

    Bit b of the fingerprint is voted on by every token with +-1 from bit
    (b % 4) of hex digit (b // 4) of md5(token) — ONE md5 per token total
    (not one per bit), every vote column partial-aggregated map-side, no
    explode and a single groupBy.  The md5 digest carries 128 independent
    bits, so up to 128 fingerprint bits cost one hash evaluation.  Portable
    to the DuckDB oracle (strpos-based hex-digit parse there, conv here —
    same values)."""
    assert bits <= 128, "one md5 digest carries 128 bits"
    tok_h = tokens(docs, id_col, text_col).select(
        id_col, F.md5(F.col("token")).alias("h")
    )

    def vote(b):
        digit = F.conv(F.substring(F.col("h"), 1 + b // 4, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, b % 4).bitwiseAND(F.lit(1))
        return bit * 2 - 1

    agg = tok_h.groupBy(id_col).agg(
        *[F.sum(vote(b)).alias(f"v{b}") for b in range(bits)]
    )
    return agg.select(
        id_col,
        F.concat(
            *[
                F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for b in range(bits)
            ]
        ).alias("simhash"),
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    bits=32,
    block_count=4,
    max_hamming=3,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the Manku,
    Jain & Das Sarma (WWW 2007) block-permutation technique Google used
    for web-crawl dedup, the bitwise complement to `minhash_lsh_pairs`'
    set-similarity tier.

    The fingerprint splits into ``block_count`` equal blocks; by
    pigeonhole, two fingerprints within Hamming distance
    ``max_hamming`` <= block_count - 1 MUST agree exactly on at least one
    block, so an equi-join on (block_no, block_value) finds EVERY true
    pair (exact recall — unlike MinHash banding, which is probabilistic)
    and only the collision set is ever verified.  Verification recomputes
    the exact Hamming distance bitwise.

    Scale: candidates come from one equi-join on the block key — nothing
    all-pairs.  The fingerprint lookup for the verify tier is semi-joined
    down to documents appearing in a candidate pair and left UNHINTED
    (the `minhash_lsh_pairs` sizes discipline).  A block value shared by
    k near-identical documents contributes k^2 candidates — real
    deployments handle such hot blocks with permutation tables over more
    blocks (Manku section 3); callers here bound the input id range the
    same way the LSH demo does.  Returns (doc_a, doc_b, hamming)."""
    sh = simhash(docs, bits, id_col, text_col)
    return hamming_block_pairs(
        sh, bits, block_count, max_hamming, id_col=id_col, fp_col="simhash"
    )


def hamming_block_pairs(
    fps: DataFrame,
    bits,
    block_count,
    max_hamming,
    id_col="doc_id",
    fp_col="fp",
) -> DataFrame:
    """Manku block-permutation Hamming pairs over ANY precomputed
    bit-string fingerprint column — the candidate-join + exact-verify
    machinery shared by `simhash_hamming_pairs` (text) and the image
    aHash near-dup lane (`__spark_entry__::image_ahash_neardup`): split
    the fingerprint into ``block_count`` equal blocks, equi-join on
    (block_no, block_value) for candidates (pigeonhole: exact recall up
    to Hamming <= block_count - 1), verify bitwise on the collision set
    only.  The verify fingerprint lookup is semi-joined down to ids that
    appear in a candidate pair and left UNHINTED (the `minhash_lsh_pairs`
    sizes discipline).  Returns (doc_a, doc_b, hamming)."""
    width = bits // block_count
    sh = fps.select(id_col, F.col(fp_col).alias("simhash"))
    blocks = sh.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.substring("simhash", b * width + 1, width).alias("bv"),
                    )
                    for b in range(block_count)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "blk.b", "blk.bv")
    a = blocks.alias("a")
    c = blocks.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"c.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    fp = sh.join(cand_ids, id_col, "left_semi")
    sa = fp.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sa"))
    sb = fp.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sb"))
    hamming = F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.col("sa").substr(i, F.lit(1)) != F.col("sb").substr(i, F.lit(1)), 1
        ).otherwise(0),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def embedding_near_dup_pairs(
    emb: DataFrame, threshold=0.4, id_col="vec_id", vec_col="embedding"
) -> DataFrame:
    """All pairs with cosine >= threshold (brute force; callers bound the
    input — the scale path is ann_ivf_topk / LSH bucketing).  JVM-side
    zip_with/aggregate dot products, no Python.

    Norms are computed once per row before the pair join (the naive form
    recomputes sqrt(dot(v,v)) for both sides of every pair — 3x the
    per-pair flops).  The cosine expression keeps the exact operation
    order dot/(sqrt*sqrt), so results are bit-identical to the naive form.
    """
    normed = emb.select(
        F.col(id_col), F.col(vec_col), F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_norm")
    )
    a = normed.alias("a")
    b = normed.alias("b")
    cos = _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a._norm") * F.col("b._norm")
    )
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def collect_codebook(centroids: DataFrame, id_col="vec_id", vec_col="embedding"):
    """Collect a (small by contract) centroid DataFrame to a driver-side
    codebook list usable by ivf_assign/ann_ivf_topk."""
    return [(int(r[0]), [float(x) for x in r[1]]) for r in centroids.select(id_col, vec_col).collect()]


def _codebook_array(codebook):
    if not codebook:
        # empty corpus -> empty codebook: a typed empty literal keeps the
        # downstream lambda field extractions analyzable (F.array() alone
        # is array<void>, which they reject), so the whole query degrades
        # to an empty result instead of an AnalysisException
        return F.lit([]).cast(
            "array<struct<cid:bigint,cvec:array<double>>>"
        )
    return F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(x) for x in vec]).alias("cvec"),
            )
            for cid, vec in codebook
        ]
    )


def ivf_assign(
    emb: DataFrame, centroids, id_col="vec_id", vec_col="embedding", keep_cols=()
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (IVF coarse quantizer).

    ``centroids`` must be small by contract (the coarse codebook) — they are
    collected to the driver and inlined as an array literal, so assignment
    is a pure narrow projection over the big side: NO crossJoin row blowup,
    NO shuffle, NO argmax groupBy.  At 10^12-row scale this is the
    difference between a map stage and shuffling the whole corpus.

    Deterministic tie-break: higher cosine wins, then lower centroid_id
    (same ordering as max-over-struct(ccos, -centroid_id)).

    ``centroids`` may be a DataFrame or an already-collected codebook (the
    list returned by ``collect_codebook``) so callers assigning several
    frames against the same codebook collect it once.  ``keep_cols`` rides
    extra input columns through the assignment, so downstream per-cluster
    rollups need no corpus-sized join-back on the id."""
    carr = _codebook_array(
        centroids
        if isinstance(centroids, list)
        else collect_codebook(centroids, id_col, vec_col)
    )
    # argmax = array_max over (cosine, -cid) structs: struct ordering gives
    # highest cosine first, then lowest centroid_id — the same tie-break as
    # max-over-struct(ccos, -centroid_id), with a shallow expression tree
    best = F.array_max(
        F.transform(
            carr,
            lambda c: F.struct(
                _cosine(F.col(vec_col), c["cvec"]).alias("cc"),
                (-c["cid"]).alias("neg"),
            ),
        )
    )
    return emb.select(
        id_col, vec_col, *keep_cols, (-best["neg"]).alias("centroid_id")
    )


def ann_ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k=10,
    id_col="vec_id",
    vec_col="embedding",
) -> DataFrame:
    """IVF approximate top-k: probe only the query's centroid bucket.

    At scale this is the point — with C centroids the scan touches ~1/C of
    the corpus (and the assignment can be precomputed/partitioned-by), vs
    the brute-force path touching everything.  Returns (vec_id, cosine)."""
    codebook = (
        centroids
        if isinstance(centroids, list)
        else collect_codebook(centroids, id_col, vec_col)
    )
    assigned = ivf_assign(emb, codebook, id_col, vec_col)
    q = ivf_assign(query, codebook, id_col, vec_col).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.col("centroid_id").alias("qcent"),
    )
    cos = _cosine(F.col(vec_col), F.col("qvec"))
    return (
        assigned.join(F.broadcast(q), F.col("centroid_id") == F.col("qcent"))
        .filter(F.col(id_col) != F.col("qid"))
        .select(id_col, F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def winnow_fingerprints(
    docs: DataFrame, k=5, w=4, id_col="doc_id", text_col="text", extra_cols=()
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-token shingle with a sliding (rolling) window,
    then keep the minimum hash of each w-gram window — a position-robust
    fingerprint set ~1/w the shingle count that still guarantees any match
    of length >= k+w-1 tokens shares a fingerprint.

    Entirely JVM-side array expressions over the per-row token array
    (transform/sequence/slice/array_min): no explode until the final
    fingerprint set, no shuffle before the output — at 100 TB this is a
    map-only stage.  md5 shingle hashes keep it portable to the DuckDB
    oracle.  Returns (id, *extra_cols, fp) distinct rows — ``extra_cols``
    names per-document columns to carry through unchanged (e.g. a split
    label), saving callers a corpus-sized join back onto the id."""
    toks = F.split(F.trim(F.col(text_col)), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
    )
    # materialize the gram array as a column BEFORE the window-min pass:
    # Catalyst does not CSE an expression referenced inside a lambda, so
    # inlining `grams` into the second transform would recompute the whole
    # md5 array once per window position (O(n^2) hashes per document)
    with_grams = docs.filter(F.size(toks) >= k + w - 1).select(
        id_col, *extra_cols, grams.alias("_grams")
    )
    g = F.col("_grams")
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda j: F.array_min(F.slice(g, j, w)),
        )
    )
    return with_grams.select(
        id_col, *extra_cols, F.explode(fps).alias("fp")
    ).distinct()


def hyperplane_lsh_buckets(
    emb: DataFrame, hyperplanes, id_col="vec_id", vec_col="embedding"
) -> DataFrame:
    """Random-hyperplane (sign) LSH for cosine similarity: bucket key =
    concatenated signs of <v, h_j> for each hyperplane h_j.  Vectors with
    high cosine land in the same bucket with probability
    (1 - theta/pi)^n_planes.

    ``hyperplanes`` is a driver-side list of vectors (deterministic,
    seeded by the caller) inlined as literals — like the IVF codebook,
    bucketing is a map-only projection: no shuffle, no join, no Python."""
    sign_bits = [
        F.when(
            _dot(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in h]),
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for h in hyperplanes
    ]
    return emb.select(id_col, vec_col, F.concat(*sign_bits).alias("bucket"))


def lsh_cosine_pairs(
    emb: DataFrame, hyperplanes, threshold=0.4, id_col="vec_id", vec_col="embedding"
) -> DataFrame:
    """Embedding near-dup via sign-LSH bucketing + exact cosine verify —
    the LSH counterpart of ann_ivf_topk's IVF path.  Only same-bucket
    pairs are ever joined (the shuffle is on the short bucket key), then
    verified with the exact cosine (norms precomputed once per row).
    Returns (vec_a, vec_b, cosine >= threshold)."""
    b = hyperplane_lsh_buckets(emb, hyperplanes, id_col, vec_col)
    normed = b.select(
        id_col,
        "bucket",
        F.col(vec_col),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_norm"),
    )
    l, r = normed.alias("l"), normed.alias("r")
    cos = _dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")) / (
        F.col("l._norm") * F.col("r._norm")
    )
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("vec_a"),
            F.col(f"r.{id_col}").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def fingerprint_edges(
    cd: DataFrame, max_df=None, id_col="doc_id", hash_col="h"
) -> DataFrame:
    """Candidate-pair edges from a (doc, fingerprint-hash) frame via a
    hash-equality self-join, with a document-frequency skew guard.

    ``max_df`` is the same structural guard ``tokens(max_df=...)`` applies
    to the Jaccard inverted index: a fingerprint shared by k documents
    contributes k*(k-1)/2 edges, so ONE hot boilerplate chunk present in
    10^6 web pages is a ~10^12-row edge bomb.  Hashes whose document
    frequency exceeds ``max_df`` are dropped with a left-anti join BEFORE
    the self-join, bounding the edge list at O(rows * max_df).  That is
    also the right semantics, not just a performance cap: a chunk common
    to more than ``max_df`` documents is boilerplate chrome, and edges
    through it would glue unrelated documents into one giant spurious
    cluster.  The frequent-hash side carries no forced broadcast (its
    size depends on max_df vs the corpus) — AQE picks broadcast when it
    measures small.

    Returns distinct (a, b) with a < b; each undirected edge once."""
    if max_df is not None:
        hot = (
            cd.groupBy(hash_col)
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select(hash_col)
        )
        cd = cd.join(hot, hash_col, "left_anti")
    a, b = cd.alias("a"), cd.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{hash_col}") == F.col(f"b.{hash_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, a_col="a", b_col="b", max_iterations=25
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph — the
    clustering step every near-dup dedup pipeline ends with (pairs from
    MinHash-LSH / fingerprint collisions -> components -> one canonical
    document per component).

    Algorithm: iterative min-label propagation (the published MapReduce CC
    approach, e.g. Kiveris et al. 2014's baseline): every node starts
    labeled with itself; each round every node takes the min of its own
    and its neighbors' labels; converged when no label changes.  Rounds =
    graph diameter, which for near-dup graphs is tiny (duplicates of one
    document form near-cliques).  Each round is ONE shuffle (groupBy
    doc_id); lineage is truncated with localCheckpoint per round so the
    plan does not grow with the iteration count — the standard Spark
    iterative-algorithm shape.  The convergence check is a count() per
    round: a driver-side scalar, not a data collect.

    ``edges`` must contain each undirected edge at least once in either
    direction; both directions are generated internally.  Returns
    (doc_id, cluster_id = min doc_id in the component) for every node
    that appears in an edge.

    Checkpoint retention: each round's ``localCheckpoint`` blocks stay in
    the block manager until the superseded DataFrame is garbage-collected
    on the driver (rebinding ``labels`` each round drops our reference;
    lineage truncation means the new round's plan does not pin the old
    RDD, so Spark's ContextCleaner unpersists it asynchronously).  Peak
    retention is therefore a few rounds of (doc_id, label) pairs — two
    longs per graph node — not the full iteration history; intentional,
    no explicit unpersist (there is no public API to free a
    localCheckpoint eagerly, and the frames are narrow).
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = None
    for _ in range(max_iterations):
        prop = sym.join(
            labels.select(F.col("doc_id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        new_labels = (
            labels.union(prop).groupBy("doc_id").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed:
        # a partially-propagated labeling silently splits one component into
        # several clusters — wrong canonical assignments; fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); the graph has a "
            "path longer than the iteration bound — raise max_iterations"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# --------------------------------------------------------------- product
# quantization (Jégou, Douze & Schmid, TPAMI 2011): the memory-compression
# half of a FAISS-style IVF-PQ index.  IVF (ivf_assign/ann_ivf_topk) bounds
# WHICH vectors a query touches; PQ bounds what each touched vector COSTS —
# M one-byte codes (here 8) instead of dim floats (here 64 x 4 bytes), the
# 32x shrink that lets 10^12 vectors sit in cluster memory at all.  Search
# reads codes only (asymmetric distance: per-query lookup tables), never
# the raw vectors, except to re-rank a bounded shortlist.


def pq_codebooks_from_vectors(
    train: DataFrame, m, dsub, id_col="vec_id", vec_col="embedding"
):
    """Slice K bounded training vectors into M sub-codebooks.

    ``train`` must be small by contract (K codewords per subquantizer — a
    real pipeline k-means-trains each sub-codebook;
    the codebook is K*dsub*M floats regardless of corpus size, so the
    collect here is bounded by construction, same as `collect_codebook`).
    Rows are sorted by id so codes are deterministic.  Returns a list of
    M sub-codebooks, each a list of (code, subvector) with code 0..K-1."""
    rows = sorted(collect_codebook(train, id_col, vec_col))
    return [
        [
            (code, vec[mi * dsub : (mi + 1) * dsub])
            for code, (_cid, vec) in enumerate(rows)
        ]
        for mi in range(m)
    ]


def _sq_dist(a, b):
    """Squared L2 distance between two array columns, accumulated in
    DOUBLE left-to-right (the same fold order the DuckDB oracle's
    list_sum and the pure-Python replays use, so the three agree to the
    last bit on float32-sourced inputs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _pq_subcodebook_array(subcb):
    """Inline one sub-codebook as an array<struct<k,c>> literal."""
    return F.array(
        *[
            F.struct(
                F.lit(code).cast("int").alias("k"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
            )
            for code, vec in subcb
        ]
    )


def pq_encode(
    emb: DataFrame,
    codebooks,
    dsub,
    id_col="vec_id",
    vec_col="embedding",
    keep_cols=(),
) -> DataFrame:
    """PQ-encode every vector: codes[mi] = argmin_k ||sub_mi - c_mi_k||^2.

    The codebooks ride as inlined literals (the `ivf_assign` idiom), so
    encoding is a pure narrow projection — NO join, NO shuffle, NO
    Python; at 10^12 vectors this is one map pass that co-schedules with
    the scan.  Ties break to the lowest code (array_max over
    struct(-dist, -k), the ivf_assign tie-break).  Also emits
    ``recon_err``, the summed per-subvector quantization error — the
    quality number a PQ deployment tracks.  Returns
    (id, *keep_cols, codes array<int>, recon_err double)."""
    if not codebooks or any(len(cb) == 0 for cb in codebooks):
        # empty training set (empty corpus): typed null columns keep the
        # schema stable so the whole query degrades to an empty result
        # instead of an AnalysisException (the _codebook_array contract)
        return emb.select(
            id_col,
            *keep_cols,
            F.lit(None).cast("array<int>").alias("codes"),
            F.lit(None).cast("double").alias("recon_err"),
        )
    vec = F.col(vec_col).cast("array<double>")
    code_cols, err_cols = [], []
    for mi, subcb in enumerate(codebooks):
        sub = F.slice(vec, mi * dsub + 1, dsub)
        best = F.array_max(
            F.transform(
                _pq_subcodebook_array(subcb),
                lambda c: F.struct(
                    (-_sq_dist(sub, c["c"])).alias("nd"),
                    (-c["k"]).alias("nk"),
                ),
            )
        )
        code_cols.append((-best["nk"]).cast("int"))
        err_cols.append(-best["nd"])
    recon = err_cols[0]
    for e in err_cols[1:]:
        recon = recon + e
    return emb.select(
        id_col,
        *keep_cols,
        F.array(*code_cols).alias("codes"),
        recon.alias("recon_err"),
    )


def pq_adc_topk(
    emb: DataFrame,
    codebooks,
    dsub,
    query_vec,
    k=10,
    shortlist=50,
    id_col="vec_id",
    vec_col="embedding",
    exclude_id=None,
):
    """Asymmetric-distance (ADC) top-k over PQ codes, with exact re-rank.

    ``query_vec`` is ONE query's raw vector (a plain Python list — one
    bounded row, collected by the caller).  The per-query lookup tables
    T[mi][code] = ||q_sub_mi - c_mi_code||^2 are computed driver-side
    (M*K values — 128 doubles here, independent of corpus size) and
    inlined, so the ADC scan is a map-side code-array lookup + M-term
    add per vector: the corpus' raw vectors are never read.  The top
    ``shortlist`` by ADC distance compiles to a per-partition heap
    (TakeOrderedAndProject — never a corpus sort), and only those
    ``shortlist`` rows are exactly re-ranked by true cosine (the
    FAISS refine stage).  Ranking keys are rounded to 4dp with an id
    tiebreak so k-boundaries never depend on last-ulp libm differences.
    Returns the final top-``k`` (id, adc_dist, cosine)."""
    if not codebooks or any(len(cb) == 0 for cb in codebooks):
        # no codebook (empty corpus) -> no index -> empty result, stable
        # schema (the pq_encode degradation contract)
        return emb.select(
            id_col,
            F.lit(None).cast("double").alias("adc_dist"),
            F.lit(None).cast("double").alias("cosine"),
        ).filter(F.lit(False))
    q = [float(x) for x in query_vec]
    tables = []
    for mi, subcb in enumerate(codebooks):
        qsub = q[mi * dsub : (mi + 1) * dsub]
        row = []
        for _code, cvec in subcb:
            acc = 0.0
            for a, b in zip(qsub, cvec):
                acc = acc + (a - b) * (a - b)
            row.append(acc)
        tables.append(row)
    enc = pq_encode(emb, codebooks, dsub, id_col, vec_col, keep_cols=(vec_col,))
    if exclude_id is not None:
        enc = enc.filter(F.col(id_col) != exclude_id)
    adc = None
    for mi, row in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(v) for v in row]),
            F.element_at(F.col("codes"), mi + 1) + 1,
        )
        adc = term if adc is None else adc + term
    qlit = F.array(*[F.lit(x) for x in q])
    vec = F.col(vec_col).cast("array<double>")
    short = (
        enc.select(id_col, vec_col, F.round(adc, 4).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return (
        short.select(
            id_col,
            "adc_dist",
            F.round(_cosine(vec, qlit), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )
