"""Tests for the dataset-level similarity/dedup operators (textops) and the
multimodal binary-column plumbing (Structured Streaming extraction is
tested in test_stream_extract.py).

Correctness anchors:
- MinHash/LSH: exact duplicates always collide; a verified pair's Jaccard
  matches a hand-computed value; disjoint docs never survive the verify.
- SimHash: identical docs -> identical fingerprints; fingerprint is a
  bits-length bit-string; deterministic across runs.
- ANN: IVF bucket probing returns the brute-force top-k whenever the true
  neighbours share the query's bucket (verified on a planted cluster).
- Multimodal: schema/batch plumbing real; corrupt payloads isolate as
  status='error'; features are the deterministic fake-decode closed form.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark.spark import textops
from readability_spark.spark.multimodal import (
    MAGIC,
    attach_payloads,
    decode_media,
    extract_media_features,
    fake_decode,
)
from readability_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(app_name="textops-tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0"),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s1"),  # exact dup of 0
        (2, "alpha beta gamma delta epsilon eta", "en", "s0"),   # 5/7 jaccard vs 0
        (3, "one two three four five six", "en", "s1"),          # disjoint
        (4, "red orange yellow green blue indigo", "en", "s0"),  # disjoint
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


class TestMinHashLSH:
    def test_exact_dups_always_collide(self, spark, docs):
        pairs = textops.minhash_lsh_pairs(docs, threshold=0.99).collect()
        assert {(r.doc_a, r.doc_b, r.jaccard) for r in pairs} == {(0, 1, 1.0)}

    def test_near_dup_jaccard_value(self, spark, docs):
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in textops.minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert pairs[(0, 1)] == 1.0
        # docs 0 and 2 share 5 of 7 distinct tokens -> 0.7143, IF banding
        # happened to collide them; assert the value only when present
        if (0, 2) in pairs:
            assert pairs[(0, 2)] == pytest.approx(0.7143, abs=1e-4)
        # disjoint docs can never survive the exact-Jaccard verify
        assert all(a != 3 and b != 3 for a, b in pairs)

    def test_signatures_deterministic(self, spark, docs):
        tok = textops.tokens(docs)
        s1 = sorted(map(tuple, textops.minhash_signatures(tok).collect()))
        s2 = sorted(map(tuple, textops.minhash_signatures(tok).collect()))
        assert s1 == s2 and len(s1) == 5 * 16


class TestMaxDfGuard:
    def test_stopword_tokens_dropped_bounds_candidates(self, spark):
        """Structural skew guard: with max_df set, a stopword shared by every
        document stops generating O(n^2) inverted-index join candidates."""
        rows = [(i, f"the unique{i} word{i}", "en", "s") for i in range(20)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )
        unguarded = textops.tokens(docs)
        guarded = textops.tokens(docs, max_df=5)
        # 'the' appears in all 20 docs -> 20*19/2 = 190 candidate pairs unguarded
        def pairs(tok):
            a, b = tok.alias("a"), tok.alias("b")
            return a.join(
                b,
                (F.col("a.token") == F.col("b.token"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).count()
        assert pairs(unguarded) == 190
        assert pairs(guarded) == 0
        # rare tokens survive untouched
        assert guarded.filter(F.col("token") == "unique3").count() == 1
        assert guarded.filter(F.col("token") == "the").count() == 0

    def test_max_df_none_is_identity(self, spark, docs):
        assert (
            textops.tokens(docs).count()
            == textops.tokens(docs, max_df=None).count()
        )


class TestSimHash:
    def test_identical_docs_same_fingerprint(self, spark, docs):
        fp = {r.doc_id: r.simhash for r in textops.simhash(docs).collect()}
        assert fp[0] == fp[1]
        assert len(fp[0]) == 32 and set(fp[0]) <= {"0", "1"}
        # near-dup closer in Hamming distance than a disjoint doc
        ham = lambda a, b: sum(x != y for x, y in zip(a, b))
        assert ham(fp[0], fp[2]) < ham(fp[0], fp[3])


class TestANN:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        # two well-separated clusters; vec 0/1 are the centroids
        base_a = [1.0, 0.0, 0.0, 0.0]
        base_b = [0.0, 1.0, 0.0, 0.0]

        def jitter(base, i):
            return [v + (0.01 * ((i * 7 + j) % 5)) for j, v in enumerate(base)]

        rows = [(0, base_a), (1, base_b)]
        rows += [(i, jitter(base_a, i)) for i in range(2, 12)]
        rows += [(i, jitter(base_b, i)) for i in range(12, 22)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_ivf_assign_partitions_clusters(self, spark, emb):
        cents = emb.filter(F.col("vec_id") < 2)
        assigned = {r.vec_id: r.centroid_id for r in textops.ivf_assign(emb, cents).collect()}
        assert all(assigned[i] == 0 for i in range(2, 12))
        assert all(assigned[i] == 1 for i in range(12, 22))

    def test_ivf_topk_matches_bruteforce_in_bucket(self, spark, emb):
        cents = emb.filter(F.col("vec_id") < 2)
        query = emb.filter(F.col("vec_id") == 0)
        got = [r.vec_id for r in textops.ann_ivf_topk(emb, cents, query, k=5).collect()]
        # brute force within the true cluster
        brute = textops.embedding_near_dup_pairs(
            emb.filter(F.col("vec_id") < 12), threshold=-1.0
        )
        expected = [
            r.vec_b
            for r in brute.filter(F.col("vec_a") == 0)
            .orderBy(F.col("cosine").desc(), F.col("vec_b").asc())
            .limit(5)
            .collect()
        ]
        assert got == expected


class TestMultimodal:
    def test_fake_decode_deterministic_and_magic_checked(self):
        d1 = fake_decode(MAGIC + b"hello")
        d2 = fake_decode(MAGIC + b"hello")
        assert d1 == d2 and 100 <= d1[1] <= 250 and 100 <= d1[2] <= 250
        with pytest.raises(ValueError):
            fake_decode(b"JUNKhello")

    def test_real_decoder_is_explicit_stub(self):
        with pytest.raises(NotImplementedError):
            decode_media(b"\x89PNG", "image/png")

    def test_feature_extraction_plumbing(self, spark, docs):
        feats = {
            r.doc_id: r for r in extract_media_features(attach_payloads(docs)).collect()
        }
        assert len(feats) == 5
        r0 = feats[0]
        assert r0.status == "ok" and r0.media_type == "image/png"
        assert r0.n_bytes == len("alpha beta gamma delta epsilon zeta")
        import hashlib

        assert r0.content_md5 == hashlib.md5(b"alpha beta gamma delta epsilon zeta").hexdigest()

    def test_corrupt_payload_isolated(self, spark):
        bad = spark.createDataFrame(
            [(1, "image/png", b"JUNKxxxx"), (2, "image/png", None)],
            "doc_id long, media_type string, payload binary",
        )
        rows = {r.doc_id: r for r in extract_media_features(bad).collect()}
        assert rows[1].status == "error" and rows[1].n_bytes == 8
        assert rows[2].status == "error" and rows[2].n_bytes is None


class TestMultimodalTransforms:
    def test_resize_images_only(self, spark, docs):
        from readability_spark.spark.multimodal import fake_resize, resize_media

        rows = {
            r.doc_id: r
            for r in resize_media(attach_payloads(docs), 64, 48).collect()
        }
        assert len(rows) == 5
        img = rows[0]  # doc_id % 3 == 0 -> image/png
        assert img.status == "ok" and (img.width, img.height) == (64, 48)
        assert bytes(img.payload) == fake_resize(
            MAGIC + b"alpha beta gamma delta epsilon zeta", 64, 48
        )
        aud = rows[1]  # audio passes through untouched
        assert aud.status == "skipped" and aud.width is None
        assert bytes(aud.payload) == MAGIC + b"alpha beta gamma delta epsilon zeta"

    def test_frame_sample_explodes_videos(self, spark, docs):
        from readability_spark.spark.multimodal import (
            fake_frame_sample,
            sample_video_frames,
        )

        out = sample_video_frames(attach_payloads(docs), n_frames=4).collect()
        # docs 2 (and any other doc_id % 3 == 2) are video -> 4 frames each
        vids = {r.doc_id for r in out}
        assert vids == {2} and len(out) == 4
        expected = fake_frame_sample(
            MAGIC + b"alpha beta gamma delta epsilon eta", 4
        )
        got = sorted((r.frame_idx, r.frame_ts_ms, r.frame_md5) for r in out)
        assert got == expected
        assert all(r.status == "ok" for r in out)

    def test_corrupt_video_isolated(self, spark):
        from readability_spark.spark.multimodal import sample_video_frames

        bad = spark.createDataFrame(
            [(1, "video/mp4", b"JUNKxxxx"), (2, "video/mp4", None),
             (3, "image/png", b"FAKEfine")],
            "doc_id long, media_type string, payload binary",
        )
        rows = sample_video_frames(bad, n_frames=4).collect()
        by_id = {r.doc_id: r for r in rows}
        assert set(by_id) == {1, 2}  # image row dropped
        assert by_id[1].status == "error" and by_id[2].status == "error"


class TestWinnowing:
    def test_shared_run_guarantees_shared_fingerprint(self, spark):
        from readability_spark.spark.textops import winnow_fingerprints

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
        docs = spark.createDataFrame(
            [
                (1, f"intro words here {shared} tail one"),
                (2, f"completely different prefix {shared} other ending"),
                (3, "no overlap with anything else at all in this row"),
            ],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(docs, k=5, w=4)
        by_doc = {
            r.doc_id: {x.fp for x in rows}
            for r in fps.select("doc_id").distinct().collect()
            for rows in [fps.filter(F.col("doc_id") == r.doc_id).collect()]
        }
        assert by_doc[1] & by_doc[2], "docs sharing an 8-token run must share a fingerprint"
        assert not (by_doc[1] & by_doc[3])

    def test_short_docs_excluded(self, spark):
        from readability_spark.spark.textops import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "only seven tokens in this short row")], "doc_id long, text string"
        )
        assert winnow_fingerprints(docs, k=5, w=4).count() == 0


class TestSignLSH:
    def test_same_bucket_for_identical_directions(self, spark):
        from readability_spark.spark.textops import hyperplane_lsh_buckets, lsh_cosine_pairs

        planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        emb = spark.createDataFrame(
            [
                (1, [1.0, 1.0, 0.0]),
                (2, [2.0, 2.0, 0.0]),   # same direction as 1
                (3, [-1.0, -1.0, 0.0]), # opposite direction
            ],
            "vec_id long, embedding array<double>",
        )
        buckets = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(emb, planes).collect()}
        assert buckets[1] == buckets[2] == "11"
        assert buckets[3] == "00"
        pairs = lsh_cosine_pairs(emb, planes, threshold=0.9).collect()
        assert [(p.vec_a, p.vec_b, p.cosine) for p in pairs] == [(1, 2, 1.0)]


class TestMultimodalNullMetadata:
    def test_null_media_type_never_kills_the_batch(self, spark):
        from readability_spark.spark.multimodal import (
            resize_media,
            sample_video_frames,
        )

        rows = spark.createDataFrame(
            [(1, None, b"FAKEx"), (2, "image/png", b"FAKEy"), (3, None, None)],
            "doc_id long, media_type string, payload binary",
        )
        resized = {r.doc_id: r for r in resize_media(rows, 8, 8).collect()}
        assert resized[1].status == "error" and resized[3].status == "error"
        assert resized[2].status == "ok"
        # frame sampler treats null media_type as non-video (dropped)
        assert sample_video_frames(rows, n_frames=2).count() == 0


class TestDecoderSeam:
    """The real-decoder seam (VERDICT r2 item 5): decode_auto/resize_auto/
    frames_auto take the REAL path when the capability probe finds
    PIL/ffmpeg, and the deterministic stub path otherwise.  Probes are
    monkeypatched module caches — no media libs in this container."""

    def test_stub_path_runs_for_synthetic_payloads(self):
        from readability_spark.spark import multimodal as mm

        # MAGIC-tagged synthetic payloads take the stub path regardless of
        # what capabilities the machine has (they are not decodable media)
        payload = mm.MAGIC + b"hello"
        assert mm.decode_auto(payload, "image/png") == mm.fake_decode(payload)
        assert mm.resize_auto(payload, 3, 2) == mm.fake_resize(payload, 3, 2)
        assert mm.frames_auto(payload, 2) == mm.fake_frame_sample(payload, 2)

    def test_magic_payload_stays_on_stub_even_with_pil(self, monkeypatch):
        from readability_spark.spark import multimodal as mm

        class ExplodingPIL:
            @staticmethod
            def open(buf):  # the real path must never see a MAGIC payload
                raise AssertionError("real decoder invoked for synthetic payload")

        monkeypatch.setattr(mm, "_PIL_CACHE", ExplodingPIL)
        monkeypatch.setattr(mm, "_FFMPEG_CACHE", "/usr/bin/ffmpeg")
        payload = mm.MAGIC + b"hello"
        assert mm.decode_auto(payload, "image/png") == mm.fake_decode(payload)
        assert mm.resize_auto(payload, 3, 2) == mm.fake_resize(payload, 3, 2)
        assert mm.frames_auto(payload, 2) == mm.fake_frame_sample(payload, 2)

    def test_this_container_lacks_codecs(self):
        import importlib.util
        import shutil as _sh

        from readability_spark.spark import multimodal as mm

        if importlib.util.find_spec("PIL") or _sh.which("ffmpeg"):
            pytest.skip("machine has real codecs; container contract n/a")
        assert mm._pil() is None and mm._ffmpeg() is None

    def test_decode_auto_takes_pil_path_when_available(self, monkeypatch):
        from readability_spark.spark import multimodal as mm

        calls = []

        class FakeImg:
            size = (640, 480)

            def resize(self, dims):
                calls.append(("resize", dims))
                return self

            def save(self, buf, format=None):
                calls.append(("save", format))
                buf.write(b"png-bytes")

        class FakePILImage:
            @staticmethod
            def open(buf):
                calls.append(("open", buf.read()))
                return FakeImg()

        monkeypatch.setattr(mm, "_PIL_CACHE", FakePILImage)
        digest, w, h = mm.decode_auto(b"real-image-bytes", "image/png")
        assert ("open", b"real-image-bytes") in calls
        assert (w, h) == (640, 480)
        import hashlib

        assert digest == hashlib.md5(b"real-image-bytes").hexdigest()
        # non-image media still falls back to the stub even with PIL present
        assert mm.decode_auto(mm.MAGIC + b"x", "audio/wav") == mm.fake_decode(
            mm.MAGIC + b"x"
        )

    def test_resize_auto_takes_pil_path_when_available(self, monkeypatch):
        from readability_spark.spark import multimodal as mm

        class FakeImg:
            size = (10, 10)

            def resize(self, dims):
                assert dims == (4, 3)
                return self

            def save(self, buf, format=None):
                assert format == "PNG"
                buf.write(b"resized-png")

        class FakePILImage:
            @staticmethod
            def open(buf):
                return FakeImg()

        monkeypatch.setattr(mm, "_PIL_CACHE", FakePILImage)
        assert mm.resize_auto(b"whatever", 4, 3) == b"resized-png"

    def test_frames_auto_dispatches_to_ffmpeg_when_available(self, monkeypatch):
        from readability_spark.spark import multimodal as mm

        seen = {}

        def fake_real(payload, n):
            seen["args"] = (payload, n)
            return [(0, 0, "d0"), (1, 500, "d1")]

        monkeypatch.setattr(mm, "_FFMPEG_CACHE", "/usr/bin/ffmpeg")
        monkeypatch.setattr(mm, "sample_frames_ffmpeg", fake_real)
        assert mm.frames_auto(b"vid", 2) == [(0, 0, "d0"), (1, 500, "d1")]
        assert seen["args"] == (b"vid", 2)

    def test_decode_media_raises_without_capability(self, monkeypatch):
        from readability_spark.spark import multimodal as mm

        monkeypatch.setattr(mm, "_PIL_CACHE", None)
        with pytest.raises(NotImplementedError):
            mm.decode_media(b"x", "image/png")
        with pytest.raises(NotImplementedError):
            mm.decode_media(b"x", "video/mp4")


class TestConnectedComponents:
    """textops.connected_components: iterative min-label propagation
    (the dedup-clustering step), pinned on multi-hop graphs."""

    def test_chain_and_islands(self, spark):
        from readability_spark.spark.textops import connected_components

        # chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11,
        # and edges listed in ONE direction only
        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 4), (10, 11)], "a long, b long"
        )
        got = {
            r.doc_id: r.cluster_id for r in connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_converges_within_iteration_bound(self, spark):
        from readability_spark.spark.textops import connected_components

        # a 12-node path graph: worst-case diameter for label propagation
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "a long, b long"
        )
        got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 12


class TestFingerprintEdges:
    """textops.fingerprint_edges: the df-capped edge-builder feeding
    dedup clustering — the k^2 skew guard for hot boilerplate chunks."""

    def test_hot_hash_capped_not_quadratic(self, spark):
        from readability_spark.spark.textops import fingerprint_edges

        # one boilerplate hash shared by ALL 100 docs (uncapped: 4950
        # edges), plus one genuine near-dup pair sharing a rare hash
        rows = [(i, "hot") for i in range(100)] + [(7, "rare"), (8, "rare")]
        cd = spark.createDataFrame(rows, "doc_id long, h string")
        capped = fingerprint_edges(cd, max_df=8).collect()
        # the hot hash is dropped entirely; only the rare-hash edge remains
        assert {(r.a, r.b) for r in capped} == {(7, 8)}

        # uncapped: all-pairs bomb (the rare edge is a subset of it)
        assert fingerprint_edges(cd, max_df=None).count() == 100 * 99 // 2

    def test_cap_keeps_hashes_at_or_below_max_df(self, spark):
        from readability_spark.spark.textops import fingerprint_edges

        # df == max_df is KEPT (cap is "more than max_df documents")
        rows = [(i, "h3") for i in range(3)]
        cd = spark.createDataFrame(rows, "doc_id long, h string")
        got = {(r.a, r.b) for r in fingerprint_edges(cd, max_df=3).collect()}
        assert got == {(0, 1), (0, 2), (1, 2)}
        assert fingerprint_edges(cd, max_df=2).count() == 0


class TestConnectedComponentsBound:
    def test_raises_on_non_convergence(self, spark):
        from readability_spark.spark.textops import connected_components

        edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iterations=1)
