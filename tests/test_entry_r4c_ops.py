"""Invariant tests for two round-4 catalog operators: the hashed-linear
quality classifier (exact 1/64 weights, a hand-folded logit, both classes
present) and the BPE apply loop (replayed per document in plain Python).
The DuckDB oracle gate (tools/check_oracles.py) pins exact values; these
tests pin the properties behind them."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(
        app_name="entry-r4c-tests", master="local[8]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


class TestQualityClassifierHashed:
    def test_weights_are_exact_sixtyfourths_permutation(self):
        ws = entry._QC_WEIGHTS
        assert len(ws) == 64
        assert sorted(round(w * 64) for w in ws) == list(range(-32, 32))
        for w in ws:  # exact binary fractions -> order-independent sums
            assert w == round(w * 64) / 64

    def test_logit_matches_manual_fold(self, spark):
        import hashlib

        rows = entry.quality_classifier_hashed(spark, SF_DIR).collect()
        docs = {r.doc_id: r.text for r in entry._docs(spark, SF_DIR).collect()}
        checked = 0
        for r in rows[:25]:
            toks = docs[r.doc_id].strip().split(" ")
            s = sum(
                entry._QC_WEIGHTS[
                    int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % 64
                ]
                for t in toks
            )
            logit = s / len(toks) + entry._QC_BIAS
            assert abs(logit - r.quality_logit) < 5e-5
            assert r.keep == (logit >= 0)
            assert r.n_tokens == len(toks)
            checked += 1
        assert checked == 25

    def test_both_classes_present(self, spark):
        rows = entry.quality_classifier_hashed(spark, SF_DIR).collect()
        kept = sum(1 for r in rows if r.keep)
        assert 0 < kept < len(rows), "degenerate classifier split"


class TestBpeTokenize:
    def test_python_replay_matches_exactly(self, spark):
        """Replay the greedy leftmost-best apply loop per document in
        plain Python and require identical counts; BPE pieces can never
        exceed whitespace words' character totals nor undercut the word
        count (each word is >= 1 piece)."""
        def bpe_len(word):
            syms = list(word)
            while True:
                best = bp = None
                for i in range(len(syms) - 1):
                    r = entry._BPE_RANK.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, bp = r, i
                if bp is None:
                    return len(syms)
                syms[bp:bp + 2] = [syms[bp] + syms[bp + 1]]

        docs = {
            r.doc_id: r.text.strip().split(" ")
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        got = {r.doc_id: r for r in entry.bpe_tokenize(spark, SF_DIR).collect()}
        assert set(got) == set(docs)
        merged_somewhere = False
        for doc_id, words in docs.items():
            r = got[doc_id]
            expect = sum(bpe_len(w) for w in words)
            assert r.n_words == len(words)
            assert r.n_bpe_pieces == expect, doc_id
            assert len(words) <= expect <= sum(len(w) for w in words)
            merged_somewhere |= expect < sum(len(w) for w in words)
        # the merge table must actually fire on this corpus
        assert merged_somewhere
