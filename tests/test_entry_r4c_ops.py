"""Invariant tests for the third round-4 operator batch: Bloom-filter
primitives and the incremental (cross-snapshot) dedup query built on them.
The DuckDB oracle gate (tools/check_oracles.py) pins exact values; these
tests pin the properties that make a Bloom prefilter trustworthy — zero
false negatives at any size, and exactness of the final result even when
the bitmap is deliberately saturated with false positives."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402
from readability_spark.spark.textops import (  # noqa: E402
    bloom_bitmap,
    bloom_might_contain,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(
        app_name="entry-r4c-tests", master="local[8]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


class TestBloomPrimitives:
    def test_no_false_negatives(self, spark):
        """Every inserted member must test positive — the property the
        skip-the-join branch of incremental dedup depends on."""
        members = spark.range(2000).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        bitmap, num_bits = bloom_bitmap(members, "h", num_bits=1 << 15)
        assert num_bits == 1 << 15 and len(bitmap) == (1 << 15) // 64
        missed = (
            members.filter(~bloom_might_contain(bitmap, F.col("h"))).count()
        )
        assert missed == 0

    def test_nonmembers_mostly_rejected_at_sized_bitmap(self, spark):
        """At ~16 bits/item the FPP is tiny; non-members should almost all
        test negative (bound generously to stay hermetic)."""
        members = spark.range(2000).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        bitmap, _ = bloom_bitmap(members, "h", num_bits=1 << 15)
        probe = spark.range(2000, 4000).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        fp = probe.filter(bloom_might_contain(bitmap, F.col("h"))).count()
        assert fp < 100, f"false-positive rate implausibly high: {fp}/2000"

    def test_saturated_bitmap_still_yields_exact_dedup(self, spark):
        """The scale-critical property: false positives only route extra
        rows through the exact verify join, never change the answer.  A
        64-bit bitmap over 2000 members is fully saturated (every probe
        is a false positive), yet prefilter + anti-join must equal the
        plain anti-join."""
        corpus = spark.range(2000).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        increment = spark.range(1000, 3000).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
        )
        bitmap, _ = bloom_bitmap(corpus, "h", num_bits=64, num_hashes=2)
        flagged = increment.withColumn(
            "maybe", bloom_might_contain(bitmap, F.col("h"), num_hashes=2)
        )
        result = (
            flagged.filter(~F.col("maybe"))
            .select("id")
            .unionByName(
                flagged.filter(F.col("maybe"))
                .join(corpus, "h", "left_anti")
                .select("id")
            )
        )
        expected = increment.join(corpus, "h", "left_anti").select("id")
        got = sorted(r.id for r in result.collect())
        want = sorted(r.id for r in expected.collect())
        assert got == want == list(range(2000, 3000))

    def test_bitmap_size_is_config_not_data(self, spark):
        """The driver-side collect is bounded by construction: the word
        table never exceeds num_bits/64 entries regardless of input rows."""
        big = spark.range(50_000).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        bitmap, _ = bloom_bitmap(big, "h", num_bits=1 << 10)
        assert len(bitmap) == (1 << 10) // 64


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


class TestTextNormalize:
    def test_planted_noise_fully_removed(self, spark):
        rows = entry.text_normalize(spark, SF_DIR).collect()
        for r in rows:
            t = r.text_norm
            assert "\t" not in t and "\n" not in t and " " not in t
            assert "  " not in t, "whitespace run survived"
            for ch in "“”‘’—–…":
                assert ch not in t, f"unnormalized {ch!r}"
            assert t == t.strip()
            assert r.norm_len == len(t) and r.norm_len < r.raw_len

    def test_normalization_is_idempotent_and_correct(self, spark):
        docs = {r.doc_id: r.text for r in entry._docs(spark, SF_DIR).collect()}
        rows = entry.text_normalize(spark, SF_DIR).collect()
        for r in rows[:25]:
            # expected closed form: quotes become ASCII, dash joins, the
            # planted tail collapses to '- fin...'
            assert r.text_norm == f'"{docs[r.doc_id]}" - fin...'


class TestCmsTokenCounts:
    def test_never_undercounts_and_truth_positive(self, spark):
        """The count-min guarantee: est >= true for every probed token
        (min over lanes of cells each of which includes the token's own
        occurrences); truth comes from an exact count of a corpus the
        probe tokens are drawn from, so it is strictly positive."""
        rows = entry.cms_token_counts(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r.overcount >= 0, r
            assert r.est_count == r.true_count + r.overcount
            assert r.true_count > 0

    def test_sketch_is_fixed_size(self, spark):
        """The sketch build's output is capped at D*W cells no matter the
        corpus — the bounded-output property the 100 TB claim rests on."""
        import pyspark.sql.functions as F

        docs = entry._docs(spark, SF_DIR).filter(F.trim(F.col("text")) != "")
        tok = docs.select(
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
        )
        n_cells = (
            tok.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                F.pmod(
                                    F.conv(
                                        F.substring(
                                            F.md5(
                                                F.concat(
                                                    F.lit(f"{j}:"), F.col("token")
                                                )
                                            ),
                                            1,
                                            3,
                                        ),
                                        16,
                                        10,
                                    ).cast("int"),
                                    F.lit(entry._CMS_W),
                                ).alias("b"),
                            )
                            for j in range(entry._CMS_D)
                        ]
                    )
                ).alias("s")
            )
            .select("s.j", "s.b")
            .distinct()
            .count()
        )
        assert n_cells <= entry._CMS_D * entry._CMS_W


class TestGopherDupLines:
    def test_lane_gradient(self, spark):
        """doc_id%5 sweeps the planted duplicate fraction: lane 0 has no
        plants (all keep, zero dup fractions); lane 4 plants ~n_lines
        copies (all reject)."""
        rows = entry.gopher_dup_lines(spark, SF_DIR).collect()
        assert rows
        by_lane: dict[int, list] = {}
        for r in rows:
            by_lane.setdefault(r.doc_id % 5, []).append(r)
        assert all(r.keep and r.dup_line_frac == 0.0 for r in by_lane[0])
        assert all(not r.keep for r in by_lane[4])
        assert any(r.keep for r in rows) and any(not r.keep for r in rows)

    def test_fractions_match_manual_count(self, spark):
        """Recompute the duplicate-line fraction in plain Python for a
        sample and compare against the sorted-adjacency Spark result."""
        from collections import Counter

        docs = {
            r.doc_id: r.text
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        got = {r.doc_id: r for r in entry.gopher_dup_lines(spark, SF_DIR).collect()}
        checked = 0
        for doc_id in sorted(docs)[:30]:
            toks = docs[doc_id].strip().split(" ")
            lines = [
                " ".join(toks[i * 8 : i * 8 + 8])
                for i in range((len(toks) + 7) // 8)
            ]
            lines += [entry._GDL_LINE] * int(len(lines) * (doc_id % 5) / 4)
            counts = Counter(lines)
            dups = sum(c - 1 for c in counts.values())
            frac = dups / len(lines)
            assert abs(got[doc_id].dup_line_frac - round(frac, 4)) < 1e-9
            assert got[doc_id].n_lines == len(lines)
            checked += 1
        assert checked == 30


class TestIncrementalDedupBloom:
    def test_matches_plain_antijoin(self, spark):
        """The query's bloom + verify result must equal the oracle shape
        (plain anti-join) computed independently in Spark."""
        docs = entry._docs(spark, SF_DIR)
        corpus = docs.select(F.md5(F.col("text")).alias("text_hash"))
        increment = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.md5(
                F.when(F.col("doc_id") % 4 == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(" update run2"))
                )
            ).alias("text_hash"),
        )
        expected = sorted(
            r.doc_id
            for r in increment.join(corpus, "text_hash", "left_anti").collect()
        )
        got = sorted(
            r.doc_id
            for r in entry.incremental_dedup_bloom(spark, SF_DIR).collect()
        )
        assert got == expected
        # the synthesized increment makes the expectation closed-form:
        # exactly the changed (%2==0 and %4!=0) pages survive
        n_docs = docs.count()
        assert got == [d for d in range(n_docs) if d % 2 == 0 and d % 4 != 0]


class TestHllDistinctTexts:
    def test_python_replay_matches_exactly(self, spark):
        """Replay the whole sketch in plain Python (hashlib.md5) — an
        engine-independent third implementation — and require the exact
        same est_distinct per scope, proving the construction is fully
        deterministic (no engine-specific hashing or float ordering)."""
        import hashlib
        import math
        from collections import defaultdict

        M = entry._HLL_M
        docs = entry._docs(spark, SF_DIR).collect()
        regs: dict[str, dict[int, int]] = defaultdict(dict)
        for row in docs:
            h = hashlib.md5(row.text.encode()).hexdigest()
            reg = int(h[:2], 16) % M
            tail = h[2:17]
            stripped = tail.lstrip("0")
            if not stripped:
                rho = 61
            else:
                dv = int(stripped[0], 16)
                lz = 0 if dv >= 8 else 1 if dv >= 4 else 2 if dv >= 2 else 3
                rho = (15 - len(stripped)) * 4 + lz + 1
            for scope in (row.source, "ALL"):
                r = regs[scope]
                r[reg] = max(r.get(reg, 0), rho)

        def estimate(r):
            used = len(r)
            dp = sum(1 << (61 - v) for v in r.values())
            d_total = float(dp + (M - used) * entry._HLL_POW61)
            raw = entry._HLL_NUM / d_total
            if raw <= 2.5 * M and used < M:
                return round(float(M) * math.log(float(M) / (M - used)))
            return round(raw)

        got = {
            r.source: r
            for r in entry.hll_distinct_texts(spark, SF_DIR).collect()
        }
        assert set(got) == set(regs)
        for scope, r in regs.items():
            assert got[scope].used_registers == len(r), scope
            assert got[scope].est_distinct == estimate(r), scope

    def test_merged_row_and_accuracy(self, spark):
        """The ALL row is the register-wise max-merge of the per-source
        sketches (associative union), and the merged estimate lands
        within the published error envelope for m=64 (~1.04/sqrt(64) =
        13% sigma; allow 3 sigma)."""
        rows = {
            r.source: r
            for r in entry.hll_distinct_texts(spark, SF_DIR).collect()
        }
        a = rows.pop("ALL")
        assert a.true_distinct == 500
        assert abs(a.est_distinct - a.true_distinct) <= 0.39 * a.true_distinct
        # merged sketch covers at least as many registers as any partial
        assert all(a.used_registers >= r.used_registers for r in rows.values())
        assert sum(r.true_distinct for r in rows.values()) == a.true_distinct


class TestHistogramQuantiles:
    def test_python_replay_matches_exactly(self, spark):
        """Engine-independent replay: rebuild the histogram sketch and
        both the interpolated estimate and the exact rank-based truth in
        plain Python and require identical values (the interpolation is
        written with the same operand order everywhere)."""
        import math
        from collections import Counter

        W = entry._HQ_W
        scores = [r.s for r in
                  entry._docs(spark, SF_DIR).select(
                      F.col("n_chars").alias("s")).collect()]
        n = len(scores)
        hist = Counter(s // W for s in scores)
        got = {r.q: r for r in
               entry.histogram_quantiles(spark, SF_DIR).collect()}
        assert set(got) == set(entry._HQ_QS)
        ordered = sorted(scores)
        for q in entry._HQ_QS:
            k = math.ceil(q * n)
            cum = 0
            for b in sorted(hist):
                if cum + hist[b] >= k:
                    est = b * float(W) + (k - cum) * float(W) / hist[b]
                    break
                cum += hist[b]
            r = got[q]
            assert r.n_docs == n
            assert r.est_value == est, q
            assert r.true_value == ordered[k - 1], q

    def test_error_bounded_by_bin_width(self, spark):
        """The sketch's guarantee: the interpolated estimate is within
        one bin width of the exact rank-based quantile."""
        for r in entry.histogram_quantiles(spark, SF_DIR).collect():
            assert abs(r.est_value - r.true_value) <= entry._HQ_W, r


class TestTfIdfKeywords:
    def test_python_replay_matches_exactly(self, spark):
        """Rebuild tf, df and the fixed-point score in plain Python and
        require the identical top-k selection per document."""
        import math
        from collections import Counter, defaultdict

        docs = {
            r.doc_id: r.text.strip().split(" ")
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        n = float(len(docs))
        df: Counter = Counter()
        for toks in docs.values():
            df.update(set(toks))
        expected: dict[int, list] = {}
        for doc_id, toks in docs.items():
            tf = Counter(toks)
            scored = [
                (
                    round(c * (math.log((n + 1.0) / (df[t] + 1.0)) + 1.0)
                          * float(entry._TFIDF_FP)),
                    t,
                    c,
                )
                for t, c in tf.items()
            ]
            scored.sort(key=lambda x: (-x[0], x[1]))
            expected[doc_id] = scored[: entry._TFIDF_K]
        got: dict[int, list] = defaultdict(list)
        for r in entry.tf_idf_keywords(spark, SF_DIR).collect():
            got[r.doc_id].append(r)
        assert set(got) == set(expected)
        for doc_id, rows in got.items():
            rows.sort(key=lambda r: r.rank)
            assert [r.token for r in rows] == [t for _, t, _ in expected[doc_id]]
            assert [r.score_fp for r in rows] == [s for s, _, _ in expected[doc_id]]
            assert [r.tf for r in rows] == [c for _, _, c in expected[doc_id]]
            assert [r.df for r in rows] == [df[t] for _, t, _ in expected[doc_id]]

    def test_k_per_doc_and_rank_contiguous(self, spark):
        from collections import defaultdict

        by_doc = defaultdict(list)
        for r in entry.tf_idf_keywords(spark, SF_DIR).collect():
            by_doc[r.doc_id].append(r.rank)
        for doc_id, ranks in by_doc.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), doc_id
            assert len(ranks) <= entry._TFIDF_K


class TestTemperatureMixSample:
    def test_python_replay_matches_exactly(self, spark):
        """Replay rates and the per-doc hash decision in plain Python;
        require the identical kept set."""
        import hashlib
        import math
        from collections import Counter

        docs = [(r.doc_id, r.lang)
                for r in entry._docs(spark, SF_DIR).collect()]
        n_by = Counter(lang for _, lang in docs)
        total = sum(n_by.values())
        sumw = sum(math.sqrt(float(n)) for n in sorted(n_by.values()))
        # NB: Python's sum order here differs from the engines' internal
        # order; equality below therefore also demonstrates the result is
        # insensitive to it at this data (docstring caveat)
        rate = {
            lang: min(1.0, (entry._TMS_BUDGET * total)
                  * (math.sqrt(float(n)) / sumw) / n)
            for lang, n in n_by.items()
        }
        expected = set()
        for doc_id, lang in docs:
            h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:13], 16)
            if float(h) / entry._TMS_DOM < rate[lang]:
                expected.add(doc_id)
        rows = entry.temperature_mix_sample(spark, SF_DIR).collect()
        assert {r.doc_id for r in rows} == expected
        for r in rows:
            assert r.n_lang == n_by[r.lang]
            assert abs(r.rate - rate[r.lang]) < 1e-6

    def test_flattening_property(self, spark):
        """alpha=0.5 must upsample rare languages relative to dominant
        ones: keep RATES are ordered inversely to corpus share, the kept
        total is near the budget, and the kept mix is flatter (lower
        max/min ratio) than the corpus mix."""
        from collections import Counter

        rows = entry.temperature_mix_sample(spark, SF_DIR).collect()
        corpus = Counter(
            r.lang for r in entry._docs(spark, SF_DIR).collect())
        kept = Counter(r.lang for r in rows)
        rates = {r.lang: r.rate for r in rows}
        # inverse ordering: bigger language -> smaller sampling rate
        by_size = sorted(corpus, key=corpus.get)
        for small, big in zip(by_size, by_size[1:]):
            assert rates[small] >= rates[big], (small, big)
        total = sum(corpus.values())
        assert abs(len(rows) - entry._TMS_BUDGET * total) <= 0.1 * total
        flat = (max(kept.values()) / min(kept.values()))
        orig = (max(corpus.values()) / min(corpus.values()))
        assert flat < orig


class TestBm25Search:
    def test_python_replay_matches_exactly(self, spark):
        """Replay BM25 (tf, df, avgdl, per-term fixed-point scores,
        integer sum, top-k with doc_id tiebreak) in plain Python and
        require the identical result rows."""
        import math
        from collections import Counter

        docs = {
            r.doc_id: r.text.strip().split(" ")
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        n = float(len(docs))
        avgdl = sum(len(t) for t in docs.values()) / len(docs)
        k1, b = entry._BM25_K1, entry._BM25_B
        df: Counter = Counter()
        for toks in docs.values():
            df.update(set(toks) & set(entry._BM25_QUERY))
        scored = []
        for doc_id, toks in docs.items():
            tf = Counter(t for t in toks if t in entry._BM25_QUERY)
            if not tf:
                continue
            s = 0
            for t, c in tf.items():
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += round(
                    idf * (c * (k1 + 1.0))
                    / (c + k1 * (1.0 - b + b * len(toks) / avgdl))
                    * float(entry._TFIDF_FP)
                )
            scored.append((-s, doc_id, len(tf)))
        scored.sort()
        expected = [
            (doc_id, -neg, m)
            for neg, doc_id, m in scored[: entry._BM25_TOPK]
        ]
        got = [
            (r.doc_id, r.score_fp, r.n_terms_matched)
            for r in entry.bm25_search(spark, SF_DIR).collect()
        ]
        assert sorted(got) == sorted(expected)

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        """The global top-k must compile to TakeOrderedAndProject (a
        per-partition heap), never a corpus-wide Sort+Limit."""
        plan = entry.bm25_search(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestHybridSearchRrf:
    def test_ranks_complete_and_rrf_recomputable(self, spark):
        """Each branch contributes a full 1..k rank list; every row's
        rrf_fp equals the closed form recomputed from its own ranks; and
        rows present in both lists dominate single-list rows with the
        same best rank."""
        rows = entry.hybrid_search_rrf(spark, SF_DIR).collect()
        assert rows
        lex = sorted(r.lex_rank for r in rows if r.lex_rank is not None)
        den = sorted(r.dense_rank for r in rows if r.dense_rank is not None)
        assert lex == list(range(1, entry._BM25_TOPK + 1))
        assert den == list(range(1, 11))
        for r in rows:
            exp = 0.0
            if r.lex_rank is not None:
                exp += 1.0 / (entry._RRF_K + r.lex_rank)
            if r.dense_rank is not None:
                exp += 1.0 / (entry._RRF_K + r.dense_rank)
            assert r.rrf_fp == round(exp * float(entry._TFIDF_FP)), r

    def test_agrees_with_component_queries(self, spark):
        """The fused ranks must be exactly the orderings of the two
        component queries' results."""
        lex_order = [
            r.doc_id
            for r in sorted(
                entry.bm25_search(spark, SF_DIR).collect(),
                key=lambda r: (-r.score_fp, r.doc_id),
            )
        ]
        dense_order = [
            r.vec_id
            for r in sorted(
                entry.topk_cosine(spark, SF_DIR).collect(),
                key=lambda r: (-r.cosine, r.vec_id),
            )
        ]
        got_lex = {
            r.doc_id: r.lex_rank
            for r in entry.hybrid_search_rrf(spark, SF_DIR).collect()
            if r.lex_rank is not None
        }
        got_dense = {
            r.doc_id: r.dense_rank
            for r in entry.hybrid_search_rrf(spark, SF_DIR).collect()
            if r.dense_rank is not None
        }
        assert got_lex == {d: i + 1 for i, d in enumerate(lex_order)}
        assert got_dense == {d: i + 1 for i, d in enumerate(dense_order)}


class TestDecontamSemantic:
    def test_python_replay_and_threshold(self, spark):
        """Replay max-cosine in numpy double precision for a sample and
        check the threshold flag; verify planted near-dups of benchmark
        vectors are caught."""
        import numpy as np

        emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
               for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()}
        bench = [v for k, v in sorted(emb.items()) if k % 23 == 0]
        rows = entry.decontam_semantic(spark, SF_DIR).collect()
        assert len(rows) == sum(1 for k in emb if k % 23 != 0)
        flagged = 0
        for r in rows:
            v = emb[r.vec_id]
            mc = max(
                float(v @ b) / (float(np.sqrt(v @ v)) * float(np.sqrt(b @ b)))
                for b in bench
            )
            assert abs(r.max_benchmark_cos - mc) < 1e-3, r.vec_id
            assert r.contaminated == (r.max_benchmark_cos >= entry._DSEM_TAU)
            flagged += bool(r.contaminated)
        # the corpus plants near-dup clusters, so some corpus vectors sit
        # near benchmark members — and most of the corpus must survive
        assert 0 < flagged < len(rows)


class TestInvertedIndex:
    def test_python_replay_cap_and_block_bound(self, spark):
        """Replay df/ttf/postings in plain Python; verify hot tokens
        (df > cap fraction) carry stats but a single NULL-postings row,
        and cold tokens carry exact sorted postings SHARDED into
        doc_id-range blocks of at most _IIX_BLOCK entries per row — the
        structural bound that keeps one reducer cell from holding a
        corpus-fraction array at any df."""
        from collections import Counter, defaultdict

        docs = {
            r.doc_id: r.text.strip().split(" ")
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        tfd: dict[str, dict[int, int]] = defaultdict(dict)
        for doc_id, toks in docs.items():
            for t, c in Counter(toks).items():
                tfd[t][doc_id] = c
        n_docs = len(docs)
        by_token: dict[str, list] = defaultdict(list)
        for r in entry.inverted_index(spark, SF_DIR).collect():
            by_token[r.token].append(r)
        assert set(by_token) == set(tfd)
        capped = uncapped = multi_block = 0
        for t, per_doc in tfd.items():
            rows = by_token[t]
            for r in rows:
                assert r.df == len(per_doc)
                assert r.total_tf == sum(per_doc.values())
            if len(per_doc) > entry._IIX_DF_CAP * n_docs:
                assert len(rows) == 1 and rows[0].block_no is None
                assert rows[0].postings is None and rows[0].tfs is None, t
                capped += 1
            else:
                rows.sort(key=lambda r: r.block_no)
                seen_blocks = [r.block_no for r in rows]
                assert len(set(seen_blocks)) == len(seen_blocks), t
                merged, merged_tfs = [], []
                for r in rows:
                    # per-row structural bound + block membership
                    assert len(r.postings) <= entry._IIX_BLOCK, t
                    assert all(
                        d // entry._IIX_BLOCK == r.block_no for d in r.postings
                    ), t
                    merged += r.postings
                    merged_tfs += r.tfs
                ordered = sorted(per_doc)
                assert merged == ordered, t
                assert merged_tfs == [per_doc[d] for d in ordered], t
                uncapped += 1
                multi_block += len(rows) > 1
        # the guard must actually fire on this corpus AND leave real
        # posting lists too, or the test proves nothing; the corpus
        # spans several doc_id blocks, so sharding must be exercised
        assert capped > 0 and uncapped > 0 and multi_block > 0


class TestIncrementalDedupNeardup:
    def test_edit_intensity_verdicts(self, spark):
        """Closed-form expectations per synthesized edit class:
        byte-identical re-fetches (%4==0) are always rejected (their
        bands collide with their own corpus original at Jaccard 1);
        full rewrites (%8==6) are always admitted (every token changed,
        Jaccard ~0); light edits (%8==2) are rejected whenever LSH
        recalls them — at Jaccard ~0.9 recall is ~0.99, so MOST must be
        rejected."""
        rows = {r.doc_id: r.admitted
                for r in entry.incremental_dedup_neardup(spark, SF_DIR).collect()}
        assert rows
        identical = [d for d in rows if d % 4 == 0]
        light = [d for d in rows if d % 8 == 2]
        rewrites = [d for d in rows if d % 8 == 6]
        assert identical and light and rewrites
        assert all(not rows[d] for d in identical)
        assert all(rows[d] for d in rewrites)
        rejected_light = sum(1 for d in light if not rows[d])
        assert rejected_light >= 0.8 * len(light), (rejected_light, len(light))

    def test_brute_force_jaccard_agrees_on_rejections(self, spark):
        """Every rejected increment doc must really have a corpus
        near-dup at the threshold (LSH adds no false rejections: the
        verify tier is exact Jaccard)."""
        docs = {r.doc_id: set(r.text.strip().split(" "))
                for r in entry._docs(spark, SF_DIR).collect()
                if r.doc_id < 300 and r.text.strip()}
        inc_sets = {}
        for d, toks in docs.items():
            if d % 2 != 0:
                continue
            if d % 4 == 0:
                inc_sets[d] = set(toks)
            elif d % 8 == 2:
                inc_sets[d] = toks | {"update", "run2"}
            else:
                inc_sets[d] = {t + "x" for t in toks}
        rows = {r.doc_id: r.admitted
                for r in entry.incremental_dedup_neardup(spark, SF_DIR).collect()}
        for d, admitted in rows.items():
            if not admitted:
                best = max(
                    len(inc_sets[d] & c) / len(inc_sets[d] | c)
                    for c in docs.values()
                )
                assert best >= entry._INCND_TAU, d


class TestSourceDataCard:
    def test_python_replay_matches_exactly(self, spark):
        """Replay every card metric in plain Python."""
        from collections import defaultdict

        per: dict[str, list] = defaultdict(list)
        for r in entry._docs(spark, SF_DIR).collect():
            if r.text.strip():
                per[r.source].append(r)
        got = {r.source: r for r in entry.source_data_card(spark, SF_DIR).collect()}
        assert set(got) == set(per)
        for src, rows in per.items():
            g = got[src]
            ntoks = [len(r.text.strip().split(" ")) for r in rows]
            uniq = len({r.text for r in rows})
            assert g.n_docs == len(rows)
            assert g.n_tokens == sum(ntoks)
            assert g.n_chars == sum(r.n_chars for r in rows)
            assert g.n_unique_texts == uniq
            assert g.dup_rate == round(1.0 - uniq / len(rows), 4)
            en = sum(1 for r in rows if r.lang == "en")
            assert g.en_share == round(en / len(rows), 4)
            assert g.mean_doc_tokens == round(sum(ntoks) / len(rows), 2)


class TestRepeatedSpanScrub:
    def test_consistent_with_span_ranges(self, spark):
        """Scrubbed output must agree with the span-ranges operator:
        removed-token count equals the per-doc union of span coverage,
        the footer is gone from every doc, and docs whose entire text is
        a repeated span come back empty rather than dropped."""
        spans: dict[int, list] = {}
        for r in entry.repeated_span_ranges(spark, SF_DIR).collect():
            spans.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_len))
        docs = {
            r.doc_id: (r.text.strip() + " copyright notice all material of "
                       + r.source + " syndication network may not be"
                       " reproduced without permission").split(" ")
            for r in entry._docs(spark, SF_DIR).collect()
            if r.text.strip()
        }
        got = {r.doc_id: r
               for r in entry.repeated_span_scrub(spark, SF_DIR).collect()}
        assert set(got) == set(docs)
        empty = 0
        for doc_id, toks in docs.items():
            covered = set()
            for start, length in spans.get(doc_id, []):
                covered.update(range(start, start + length))
            expect = [t for i, t in enumerate(toks, 1) if i not in covered]
            r = got[doc_id]
            assert r.scrubbed_text == " ".join(expect), doc_id
            assert r.n_removed_tokens == len(toks) - len(expect)
            assert "syndication" not in r.scrubbed_text
            empty += not r.scrubbed_text
        # exact-dup fixtures are fully covered -> scrubbed to empty
        assert empty > 0


class TestLlmCorpusPipeline:
    def test_agrees_with_component_stages(self, spark):
        """The composed pipeline's survivor set and output text must be
        derivable from its stage semantics replayed in plain Python."""
        import hashlib
        import re as _re

        docs = {r.doc_id: r.text for r in entry._docs(spark, SF_DIR).collect()}

        def norm(t):
            for a, b in entry._TN_PAIRS:
                t = t.replace(a, b)
            return _re.sub(r"[\x00-\x1f ]+", " ", t).strip()

        normed = {d: norm(t) for d, t in docs.items()}
        corpus = {d: t for d, t in normed.items() if d % 23 != 0}
        bench_grams = set()
        for d, t in normed.items():
            if d % 23 == 0:
                toks = t.split(" ")
                for i in range(len(toks) - 3):
                    bench_grams.add(" ".join(toks[i:i + 4]))
        canonical = {}
        for d, t in corpus.items():
            h = hashlib.md5(t.encode()).hexdigest()
            canonical[h] = min(canonical.get(h, d), d)
        expected = {}
        for d, t in corpus.items():
            toks = t.split(" ")
            if len(toks) < 30:
                continue
            if canonical[hashlib.md5(t.encode()).hexdigest()] != d:
                continue
            if any(" ".join(toks[i:i + 4]) in bench_grams
                   for i in range(len(toks) - 3)):
                continue
            s = _re.sub(entry._PII_EMAIL, "<EMAIL>", t)
            s = _re.sub(entry._PII_IPV4, "<IP>", s)
            s = _re.sub(entry._PII_PHONE, "<PHONE>", s)
            expected[d] = (s, len(toks))
        got = {r.doc_id: (r.text, r.n_words)
               for r in entry.llm_corpus_pipeline(spark, SF_DIR).collect()}
        assert got == expected
        assert got  # the pipeline must let a real corpus through


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


class TestCrawlDiffReport:
    def test_closed_form_verdicts(self, spark):
        """The synthesized churn is closed-form: %7==0 removed, %5==0
        (and kept) changed, %13==0 spawns an added id in the disjoint
        negative-id namespace (an additive offset would collide with
        real ids at scale); everything else must NOT appear."""
        n_docs = entry._docs(spark, SF_DIR).count()
        got = {r.doc_id: r.verdict
               for r in entry.crawl_diff_report(spark, SF_DIR).collect()}
        expected = {}
        for d in range(n_docs):
            if d % 7 == 0:
                expected[d] = "removed"
            elif d % 5 == 0:
                expected[d] = "changed"
            if d % 13 == 0:
                expected[-(d + 1)] = "added"
        assert got == expected


class TestQuantileGatedFilter:
    def test_gate_uses_sketch_median_and_keeps_half(self, spark):
        """The gate threshold must equal the histogram sketch's q=0.5
        estimate (from histogram_quantiles), and the kept set must be
        exactly the docs at/above it — roughly half the corpus (within
        one bin's worth of mass)."""
        hq = {r.q: r for r in entry.histogram_quantiles(spark, SF_DIR).collect()}
        rows = entry.quantile_gated_filter(spark, SF_DIR).collect()
        assert rows
        thr = {r.threshold for r in rows}
        assert thr == {hq[0.5].est_value}
        docs = {r.doc_id: r.n_chars for r in
                entry._docs(spark, SF_DIR).collect()}
        expect = {d for d, s in docs.items() if s >= hq[0.5].est_value}
        assert {r.doc_id for r in rows} == expect
        assert abs(len(rows) - len(docs) / 2) <= 0.1 * len(docs)
        for r in rows:
            assert r.n_chars >= r.threshold
