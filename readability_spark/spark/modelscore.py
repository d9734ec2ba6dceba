"""Model-inference seam for document quality scoring.

Production curation scores documents with a trained model (fasttext in
CCNet/LLaMA-style pipelines; a transformer in newer stacks).  This
container ships no model runtime, so the engine applies the same probed
capability-seam pattern as the media decoders
(:mod:`readability_spark.spark.multimodal`): a lazy, cached probe for the
real capability (the ``fasttext`` package plus a model file named by
``$SPARK_GRAFT_QUALITY_MODEL``), a deterministic JVM-side stand-in
otherwise, and a module-level cache a test can inject a fake into to
prove the real branch end-to-end.

The stand-in is the hashed-linear classifier (fasttext's hashing-trick
architecture with a deterministic weight permutation — weights are exact
multiples of 1/64 so double sums are order-independent and oracle-
replayable); it runs as a pure narrow column expression, never entering
Python.  The real branch runs the model over Arrow batches via
``mapInPandas`` — per-batch, vectorized, never per-row — and labels its
rows ``scorer='model'`` so downstream consumers can tell which tier
scored a document.

Scale: the stub path is map-only whole-stage codegen riding the scan
partitioning; the model path is one Arrow-batched Python stage with the
model loaded once per worker process (worker-reuse keeps it resident),
which is the shape a GPU/ONNX scorer takes on a real cluster too.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .session import prepare_python_worker

#: env var naming a trained fasttext supervised model file; the real
#: branch activates only when BOTH the package and the file exist
MODEL_PATH_ENV = "SPARK_GRAFT_QUALITY_MODEL"

#: fasttext-style hashed linear stand-in: 64 weight buckets, weights
#: EXACT multiples of 1/64 (binary fractions, magnitude << 2^53) so sums
#: are order-independent and DuckDB's list replay hash-matches
#: bit-for-bit; 37 is coprime to 64 so the table is a permutation of
#: (-32..31)/64 — a deterministic stand-in for trained weights
QC_WEIGHTS = [((b * 37 + 11) % 64 - 32) / 64 for b in range(64)]
QC_BIAS = 1 / 64  # exact in double on both engines

# ------------------------------------------------------- capability probe
# Lazy, cached per process; module-level so tests can inject a fake
# module to prove the real branch is taken (the decode_auto pattern).
_UNPROBED = object()
_FASTTEXT_CACHE = _UNPROBED
_MODEL_CACHE: dict = {}


def _fasttext():
    """The fasttext module when importable in this interpreter, else None."""
    global _FASTTEXT_CACHE
    if _FASTTEXT_CACHE is _UNPROBED:
        try:
            import fasttext as _ft

            _FASTTEXT_CACHE = _ft
        except ImportError:
            _FASTTEXT_CACHE = None
    return _FASTTEXT_CACHE


def load_scorer(model_path: str | None = None):
    """A ``texts -> scores`` callable when the real capability exists,
    else None.

    Real branch: ``fasttext`` importable AND a model file present (the
    ``model_path`` argument, falling back to ``$SPARK_GRAFT_QUALITY_MODEL``).
    The returned callable maps each text to a signed logit:
    P(__label__keep) - 0.5, so keep == (score >= 0) in both tiers.  The
    loaded model is cached per (process, path) — with Spark's worker
    reuse that is once per executor worker, the shape a production
    scorer needs."""
    ft = _fasttext()
    path = model_path or os.environ.get(MODEL_PATH_ENV)
    if ft is None or not path or not os.path.exists(path):
        return None
    if path not in _MODEL_CACHE:
        _MODEL_CACHE[path] = ft.load_model(path)
    model = _MODEL_CACHE[path]

    def score(texts):
        labels, probs = model.predict(list(texts), k=1)
        out = []
        for lab, p in zip(labels, probs):
            p_keep = float(p[0]) if lab[0] == "__label__keep" else 1.0 - float(p[0])
            out.append(p_keep - 0.5)
        return out

    return score


# ------------------------------------------------------------ stub scorer
def hashed_logit(text_col):
    """The stand-in's logit as a pure column expression: token -> md5 ->
    64-bucket feature id -> weight, folded over the token array with one
    F.aggregate (no explode, no join, no shuffle)."""
    arr = F.split(F.trim(text_col), " ")
    wlit = F.lit(QC_WEIGHTS)

    def bucket(t):
        return F.pmod(
            F.conv(F.substring(F.md5(t), 1, 2), 16, 10).cast("int"), F.lit(64)
        )

    sw = F.aggregate(
        arr, F.lit(0.0), lambda acc, t: acc + F.element_at(wlit, bucket(t) + 1)
    )
    return sw / F.size(arr) + F.lit(QC_BIAS)


# ------------------------------------------------------ classifier train
#: classifier_train contract constants.  D=8 hashed feature buckets keeps
#: the unrolled DuckDB oracle readable — a production fasttext-style
#: classifier hashes into ~2M buckets, and the plan shape (one bounded
#: gradient aggregate per round, weights broadcast back) is identical at
#: any D because the aggregate's output is D+1 sums regardless of corpus
#: size.  lr=0.5 and the 2^24 fixed-point gradient scale are exact binary
#: fractions so every engine computes bit-identical updates.
CT_DIMS = 8
CT_ITERS = 3
CT_LR = 0.5
CT_FP = 1 << 24
#: weak-supervision label: the Gopher stopword-fraction rule (docs whose
#: stopword ratio >= 6% are "keep") — the published bootstrap recipe for
#: web-quality classifiers is exactly this shape: cheap rule labels in,
#: learned hashed-linear scorer out (fasttext over wiki-vs-CC in CCNet/
#: LLaMA; rule labels here since this container ships no curated positive
#: set).
CT_STOPWORDS = ("the", "a")
CT_LABEL_THRESHOLD = 0.06


def _ct_bucket(t, dims):
    """token -> md5 -> feature bucket id in [0, dims) — the hashing-trick
    feature map shared with `hashed_logit` (64-bucket form)."""
    return F.pmod(
        F.conv(F.substring(F.md5(t), 1, 2), 16, 10).cast("int"), F.lit(dims)
    )


def classifier_features(
    docs: DataFrame, dims=CT_DIMS, id_col="doc_id", text_col="text"
) -> DataFrame:
    """Per-document training example: hashed bag-of-words counts f0..f{D-1},
    token count n, and the weak-supervision label y — one narrow map-side
    projection, no explode, no shuffle."""
    arr = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(arr)
    # one md5 pass via transform, then count each bucket.  The filter
    # predicate MUST be a one-parameter lambda: PySpark treats a
    # two-parameter higher-order lambda as (element, index), so the usual
    # `lambda b, j=j:` default-arg binding silently compares against the
    # ARRAY INDEX — hence the closure factory
    buckets = F.transform(arr, lambda t: _ct_bucket(t, dims))

    def _eq(j):
        return lambda b: b == F.lit(j)

    feats = [
        F.size(F.filter(buckets, _eq(j))).alias(f"f{j}") for j in range(dims)
    ]
    def _is_stop(t):
        pred = t == F.lit(CT_STOPWORDS[0])
        for s in CT_STOPWORDS[1:]:
            pred = pred | (t == F.lit(s))
        return pred

    stop = F.size(F.filter(arr, _is_stop))
    y = (
        (stop.cast("double") / n >= F.lit(CT_LABEL_THRESHOLD))
        .cast("double")
        .alias("y")
    )
    return docs.filter(F.trim(F.col(text_col)) != "").select(
        id_col, n.alias("n"), y, *feats
    )


def classifier_train(
    docs: DataFrame,
    dims=CT_DIMS,
    iters=CT_ITERS,
    lr=CT_LR,
    fp=CT_FP,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """TRAIN the hashed-linear quality classifier — full-batch gradient
    descent over the corpus, completing the scoring story the way
    `bpe_train` completes `bpe_tokenize`: `quality_classifier_hashed`/
    `score_auto` apply a weight vector, this learns one from
    weak-supervision rule labels (the fasttext-bootstrap recipe
    CCNet/LLaMA-style pipelines use).

    Model: logit z = sum_j w_j * (f_j / n) + b over hashed bag-of-words
    frequencies; squash p = 0.5 + 0.5 * z/(1+|z|) (the Elliott "fast
    sigmoid" — RATIONAL arithmetic only, chosen over exp-sigmoid so every
    engine computes bit-identical doubles and the DuckDB oracle can replay
    the whole loop hash-exactly); squared-error gradient with the exact
    squash derivative 0.5/(1+|z|)^2.

    Per iteration (the distributed-GD shape, cf. spark.ml LinearSVC):

    1. **gradient** — ONE corpus-scan aggregate: each document's D+1
       gradient contributions are quantized to `floor(g * 2^24 + 0.5)`
       BIGINTs map-side and integer-summed (order-independent, so the
       learned weights are bit-identical regardless of partitioning);
       output is ONE row of D+1 sums no matter the corpus size, map-side
       combine caps the shuffle at D+1 values per task.
    2. **update** — w' = w - lr * (S / 2^24) / N computed on the 1-row
       frames; the new weights ride back into the next round's plan as a
       broadcast 1-row cross join (never a corpus shuffle).

    The corpus is scanned once per iteration and NEVER shuffled; Python
    never touches it (all built-ins).  Returns the trained model as flat
    (dim, weight, grad_sum_fixed, n_docs) rows — dim D is the bias — with
    the FINAL iteration's exact integer gradient sums alongside, so a
    consumer (or the oracle) can verify convergence state.
    """
    feats, wrow = _gd_weight_row(docs, dims, iters, lr, fp, id_col, text_col)
    cols = [F.col(f"c{k}") for k in range(dims)] + [F.col("cb")]
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("dim"),
                    cols[k].alias("w"),
                    F.col(f"s{k}").cast("long").alias("sf"),
                )
                for k in range(dims + 1)
            ]
        )
    ).alias("r")
    return wrow.select(rows, F.col("nd")).select(
        F.col("r.dim").alias("dim"),
        F.round(F.col("r.w"), 6).alias("weight"),
        F.col("r.sf").alias("grad_sum_fixed"),
        F.col("nd").cast("long").alias("n_docs"),
    )


def _gd_weight_row(docs, dims, iters, lr, fp, id_col, text_col):
    """The GD loop shared by `classifier_train` (which emits the weights)
    and `classifier_score_trained` (which applies them in the same lazy
    plan): returns (feature frame, final 1-row weight frame carrying
    c0..c{D-1}, cb plus the last round's exact integer gradient sums)."""
    spark = docs.sparkSession
    feats = classifier_features(docs, dims, id_col, text_col)
    wrow = spark.range(1).select(
        *[F.lit(0.0).alias(f"c{j}") for j in range(dims)], F.lit(0.0).alias("cb")
    )
    fpd = F.lit(float(fp))
    for _ in range(iters):
        # weights only: the carried s*/nd columns from the previous round
        # would collide with this round's gradient frame
        wrow = wrow.select(*[F.col(f"c{k}") for k in range(dims)], F.col("cb"))
        j = feats.crossJoin(F.broadcast(wrow))
        x = [F.col(f"f{k}").cast("double") / F.col("n") for k in range(dims)]
        # z = c0*x0 + c1*x1 + ... + cb, strictly left-associative so the
        # DuckDB oracle's plain `+` chain reproduces the same IEEE doubles
        z = F.col("c0") * x[0]
        for k in range(1, dims):
            z = z + F.col(f"c{k}") * x[k]
        z = z + F.col("cb")
        az = F.lit(1.0) + F.abs(z)
        p = F.lit(0.5) + F.lit(0.5) * (z / az)
        t = (p - F.col("y")) * (F.lit(0.5) / (az * az))
        grads = [
            F.sum(F.floor(t * x[k] * fpd + F.lit(0.5))).alias(f"s{k}")
            for k in range(dims)
        ] + [F.sum(F.floor(t * fpd + F.lit(0.5))).alias(f"s{dims}")]
        g = j.agg(*grads, F.count(F.lit(1)).alias("nd"))
        upd = [
            (
                F.col(f"c{k}")
                - F.lit(lr) * ((F.col(f"s{k}").cast("double") / fpd) / F.col("nd"))
            ).alias(f"c{k}")
            for k in range(dims)
        ] + [
            (
                F.col("cb")
                - F.lit(lr)
                * ((F.col(f"s{dims}").cast("double") / fpd) / F.col("nd"))
            ).alias("cb")
        ]
        wrow = wrow.crossJoin(F.broadcast(g)).select(
            *upd, *[F.col(f"s{k}") for k in range(dims + 1)], F.col("nd")
        )
    return feats, wrow


def classifier_score_trained(
    docs: DataFrame,
    dims=CT_DIMS,
    iters=CT_ITERS,
    lr=CT_LR,
    fp=CT_FP,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Train-and-serve in ONE lazy plan: run the `classifier_train` GD
    loop, then score every document with the EXACT final weights — the
    unrounded doubles still in the 1-row weight frame, broadcast into a
    map-side scoring projection (no driver round-trip, no rounding
    seam).  p is the training squash (Elliott rational), so
    keep == (p >= 0.5) == (z >= 0), and every output double is
    bit-identical to the oracle's replay of the identical arithmetic.

    Scale shape: the training rounds are the `classifier_train` plan
    verbatim (bounded SinglePartition gradient exchanges only); scoring
    adds ONE more corpus scan crossJoined against the broadcast 1-row
    weights — still zero keyed shuffles end to end."""
    feats, wrow = _gd_weight_row(docs, dims, iters, lr, fp, id_col, text_col)
    weights = wrow.select(*[F.col(f"c{k}") for k in range(dims)], F.col("cb"))
    j = feats.crossJoin(F.broadcast(weights))
    x = [F.col(f"f{k}").cast("double") / F.col("n") for k in range(dims)]
    z = F.col("c0") * x[0]
    for k in range(1, dims):
        z = z + F.col(f"c{k}") * x[k]
    z = z + F.col("cb")
    az = F.lit(1.0) + F.abs(z)
    p = F.lit(0.5) + F.lit(0.5) * (z / az)
    return j.select(
        F.col(id_col),
        p.alias("score"),
        F.col("y").cast("int").alias("rule_label"),
        (p >= F.lit(0.5)).alias("keep"),
    )


def classifier_weights_from_training(trained: DataFrame):
    """Collect `classifier_train` output (bounded by D+1 rows, a contract
    constant) into the (weights list, bias) pair a scoring expression
    consumes — from the UNROUNDED training arithmetic replayed on the
    exact integer sums is not possible here (weights are carried, not
    sums), so the rounded display weights are used; at 6 dp the scoring
    decision boundary moves by < 1e-6 * D, irrelevant to keep/drop."""
    rows = trained.select("dim", "weight").collect()
    by_dim = {int(r[0]): float(r[1]) for r in rows}
    dims = len(by_dim) - 1
    return [by_dim[k] for k in range(dims)], by_dim[dims]


def trained_logit(text_col, weights, bias):
    """Scoring expression for a TRAINED model: same z as training (hashed
    frequency features, fixed fold order), usable anywhere `hashed_logit`
    is — map-only, no shuffle."""
    dims = len(weights)
    arr = F.split(F.trim(text_col), " ")
    n = F.size(arr)
    buckets = F.transform(arr, lambda t: _ct_bucket(t, dims))

    def _eq(j):
        # one-parameter lambda on purpose: a two-parameter higher-order
        # lambda binds (element, index) in PySpark
        return lambda b: b == F.lit(j)

    z = None
    for k in range(dims):
        xk = F.size(F.filter(buckets, _eq(k))).cast("double") / n
        term = F.lit(float(weights[k])) * xk
        z = term if z is None else z + term
    return z + F.lit(float(bias))


def score_auto(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scorer=None,
) -> DataFrame:
    """Quality-score every document with the best available tier.

    ``scorer`` overrides the probe (tests inject a picklable fake here to
    drive the model branch through a real mapInPandas stage; production
    passes None and lets :func:`load_scorer` find the deployed model).
    Returns (id_col, n_tokens, quality_logit, keep, scorer) — identical
    schema from both tiers, ``scorer`` in {'model', 'hashed'}."""
    scorer = scorer if scorer is not None else load_scorer()
    arr = F.split(F.trim(F.col(text_col)), " ")
    base = docs.filter(F.trim(F.col(text_col)) != "")
    if scorer is None:
        logit = hashed_logit(F.col(text_col))
        return base.select(
            id_col,
            F.size(arr).cast("long").alias("n_tokens"),
            F.round(logit, 4).alias("quality_logit"),
            (logit >= 0).alias("keep"),
            F.lit("hashed").alias("scorer"),
        )

    import pandas as pd

    def run_model(batches):
        prepare_python_worker()
        for pdf in batches:
            texts = pdf[text_col].tolist()
            scores = scorer(texts)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [len(t.strip().split(" ")) for t in texts],
                    "quality_logit": [round(s, 4) for s in scores],
                    "keep": [s >= 0 for s in scores],
                    "scorer": "model",
                }
            )

    return base.select(id_col, text_col).mapInPandas(
        run_model,
        f"{id_col} long, n_tokens long, quality_logit double, "
        "keep boolean, scorer string",
    )
