"""Tests for the multimodal binary-column plumbing
(readability_spark/spark/multimodal.py).

Correctness anchors:
- Multimodal: schema/batch plumbing real; corrupt payloads isolate as
  status='error'; features are the deterministic fake-decode closed form.
- Decoder seam: the stub path runs for synthetic payloads; the real
  decoders are taken only when their codecs are importable.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

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
    spark = get_spark(app_name="multimodal-tests", master="local[8]", shuffle_partitions=8)
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
