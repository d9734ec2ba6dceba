"""Multimodal-column plumbing: opaque ``binary`` payloads with typed
metadata, decoded / feature-extracted in vectorized Arrow batches.

Decoder seam: each operator dispatches through ``decode_auto`` /
``resize_auto`` / ``frames_auto``, which use the REAL implementation when
the capability exists in the worker image (PIL for images, ffmpeg for
video — probed lazily, cached per process) and fall back to the
deterministic md5-derived stubs otherwise.  This container ships neither
PIL nor ffmpeg, so in-sandbox runs take the stub path end to end (the
oracle contract is stub-based); on a cluster image with codecs the same
jobs decode for real with zero code change.  Every Spark-side piece is
real and tested either way: the binary column schema, the ``mapInPandas``
batch shape, partition behavior, and the failure-isolation contract (a
corrupt payload yields status='error', never a dead batch).

At 100 TB the same plan holds: payloads stay opaque bytes end to end (no
JVM-side string conversion), batches are bounded by
``arrow.maxRecordsPerBatch``, and feature extraction is embarrassingly
parallel over whatever partitioning the upstream table already has.
"""

from __future__ import annotations

import hashlib
import io
import shutil
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .session import prepare_python_worker

MEDIA_TYPES = ("image/png", "audio/wav", "video/mp4")

#: 4-byte magic prefixed to every synthetic payload
MAGIC = b"FAKE"

PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("content_md5", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("status", StringType(), False),
    ]
)


def attach_payloads(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload): deterministic synthetic
    binary column (MAGIC + utf-8 text bytes), media type cycling on doc_id.
    JVM-side only — the binary never round-trips through Python here."""
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.concat(F.lit(MAGIC), F.encode(F.col("text"), "utf-8")).alias("payload"),
    )


# ------------------------------------------------------- capability probes
# Lazy, cached per worker process; module-level caches so tests can inject
# a fake module/binary path to prove the real branch is taken.
_UNPROBED = object()
_PIL_CACHE = _UNPROBED
_FFMPEG_CACHE = _UNPROBED


def _pil():
    """PIL's Image module when importable in this interpreter, else None."""
    global _PIL_CACHE
    if _PIL_CACHE is _UNPROBED:
        try:
            from PIL import Image as _img  # noqa: N813

            _PIL_CACHE = _img
        except ImportError:
            _PIL_CACHE = None
    return _PIL_CACHE


def _ffmpeg():
    """Path to the ffmpeg binary when present, else None."""
    global _FFMPEG_CACHE
    if _FFMPEG_CACHE is _UNPROBED:
        _FFMPEG_CACHE = shutil.which("ffmpeg")
    return _FFMPEG_CACHE


def decode_media(payload: bytes, media_type: str):
    """Real decoder entry point: PIL for image payloads when available.
    Raises NotImplementedError when the capability is absent (audio/video
    decode needs libs no probe found) — callers wanting graceful fallback
    go through :func:`decode_auto`."""
    # NOTE: the real path digests the WHOLE payload (it has no framing);
    # the synthetic stub digests the body behind the MAGIC prefix
    if media_type and media_type.startswith("image/"):
        img_mod = _pil()
        if img_mod is not None:
            img = img_mod.open(io.BytesIO(payload))
            width, height = img.size
            return hashlib.md5(payload).hexdigest(), int(width), int(height)
    raise NotImplementedError(
        f"no decoder for {media_type} in this environment; use fake_decode"
    )


def decode_auto(payload: bytes, media_type: str):
    """Seam used by :func:`extract_media_features`.  Synthetic MAGIC-tagged
    payloads ALWAYS take the deterministic stub (they are not decodable
    media, so routing them to a real decoder on a PIL-equipped worker
    would turn every oracle-checked row into status='error'); everything
    else takes the real decoder when the capability exists, and otherwise
    falls through to the stub, whose bad-magic ValueError surfaces as the
    row's error status."""
    if (
        not payload.startswith(MAGIC)
        and media_type
        and media_type.startswith("image/")
        and _pil() is not None
    ):
        return decode_media(payload, media_type)
    return fake_decode(payload)


def fake_decode(payload: bytes):
    """Deterministic decode stand-in: md5-derived pseudo-dimensions.
    Mirrors what a real decoder returns (dims + content hash) so the
    downstream schema and tests are the production ones."""
    if not payload.startswith(MAGIC):
        raise ValueError("bad magic")
    digest = hashlib.md5(payload[len(MAGIC):]).hexdigest()
    width = 100 + (ord(digest[0]) % 16) * 10
    height = 100 + (ord(digest[1]) % 16) * 10
    return digest, width, height


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("status", StringType(), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_ts_ms", LongType(), True),
        StructField("frame_md5", StringType(), True),
        StructField("status", StringType(), False),
    ]
)


def fake_resize(payload: bytes, width: int, height: int):
    """Deterministic resize stand-in (a real one calls PIL/libvips in
    ``decode_media``'s place): output payload = MAGIC + '<md5>:<WxH>'.
    Same contract as production — new binary, new dims."""
    if not payload.startswith(MAGIC):
        raise ValueError("bad magic")
    digest = hashlib.md5(payload[len(MAGIC):]).hexdigest()
    return MAGIC + f"{digest}:{width}x{height}".encode()


def resize_image_real(payload: bytes, width: int, height: int):
    """Real resize via PIL: decode, resize, re-encode PNG.  Only reachable
    when :func:`_pil` found the library."""
    img_mod = _pil()
    img = img_mod.open(io.BytesIO(payload))
    out = io.BytesIO()
    img.resize((width, height)).save(out, format="PNG")
    return out.getvalue()


def resize_auto(payload: bytes, width: int, height: int):
    """Seam used by :func:`resize_media`: MAGIC-tagged synthetic payloads
    take the stub; real payloads take PIL when available (see
    :func:`decode_auto` for the dispatch rationale)."""
    if not payload.startswith(MAGIC) and _pil() is not None:
        return resize_image_real(payload, width, height)
    return fake_resize(payload, width, height)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """(doc_id, media_type, payload) -> RESIZED_SCHEMA: image payloads
    re-encoded at (width, height), one vectorized mapInPandas pass.
    Non-image rows pass through with status='skipped'; corrupt payloads
    become status='error' rows, never dead batches.  At 100 TB this is
    embarrassingly parallel over the table's existing partitioning —
    payloads stay opaque bytes end to end."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            payloads, ws, hs, statuses = [], [], [], []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                if payload is None or mt is None:
                    payloads.append(None); ws.append(None); hs.append(None)
                    statuses.append("error")
                    continue
                if not mt.startswith("image/"):
                    payloads.append(bytes(payload)); ws.append(None); hs.append(None)
                    statuses.append("skipped")
                    continue
                try:
                    payloads.append(resize_auto(bytes(payload), width, height))
                    ws.append(width); hs.append(height); statuses.append("ok")
                except Exception:
                    payloads.append(None); ws.append(None); hs.append(None)
                    statuses.append("error")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": payloads,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "status": statuses,
                }
            )

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


def fake_frame_sample(payload: bytes, n_frames: int):
    """Deterministic frame-sampling stand-in (a real one drives ffmpeg):
    duration derived from payload length, ``n_frames`` evenly spaced
    timestamps, one md5 per frame."""
    if not payload.startswith(MAGIC):
        raise ValueError("bad magic")
    body = payload[len(MAGIC):]
    digest = hashlib.md5(body).hexdigest()
    duration_ms = (len(body) * 7) % 60000 + 1000
    frames = []
    for i in range(n_frames):
        ts = duration_ms * i // n_frames
        frames.append((i, ts, hashlib.md5(f"{digest}:{i}".encode()).hexdigest()))
    return frames


def sample_frames_ffmpeg(payload: bytes, n_frames: int):
    """Real frame sampling: ffprobe for duration, then one evenly-spaced
    PNG frame per timestamp via ffmpeg.  Only reachable when
    :func:`_ffmpeg` found the binary."""
    import json
    import subprocess
    import tempfile

    ffmpeg = _ffmpeg()
    ffprobe = shutil.which("ffprobe") or "ffprobe"
    with tempfile.NamedTemporaryFile(suffix=".bin") as f:
        f.write(payload)
        f.flush()
        probe = subprocess.run(
            [ffprobe, "-v", "error", "-show_entries", "format=duration",
             "-of", "json", f.name],
            capture_output=True, check=True,
        )
        duration = float(json.loads(probe.stdout)["format"]["duration"])
        frames = []
        for i in range(n_frames):
            ts = duration * i / n_frames
            out = subprocess.run(
                [ffmpeg, "-v", "error", "-ss", f"{ts:.3f}", "-i", f.name,
                 "-frames:v", "1", "-f", "image2pipe", "-vcodec", "png", "-"],
                capture_output=True, check=True,
            )
            frames.append((i, int(ts * 1000), hashlib.md5(out.stdout).hexdigest()))
        return frames


def frames_auto(payload: bytes, n_frames: int):
    """Seam used by :func:`sample_video_frames`: MAGIC-tagged synthetic
    payloads take the stub; real payloads take ffmpeg when present (see
    :func:`decode_auto` for the dispatch rationale)."""
    if not payload.startswith(MAGIC) and _ffmpeg() is not None:
        return sample_frames_ffmpeg(payload, n_frames)
    return fake_frame_sample(payload, n_frames)


def sample_video_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """(doc_id, media_type, payload) -> FRAME_SCHEMA, one row per sampled
    frame of each video payload (non-video rows are dropped — a filter the
    caller's plan pushes to the scan).  Vectorized mapInPandas; a corrupt
    video yields a single status='error' row so failures stay visible."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            ids, idxs, tss, md5s, statuses = [], [], [], [], []
            for doc_id, payload, mt in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                if mt is None or not mt.startswith("video/"):
                    # null media_type is indistinguishable from non-video;
                    # dropping matches the operator's video-only contract
                    continue
                if payload is None:
                    ids.append(doc_id); idxs.append(0); tss.append(None)
                    md5s.append(None); statuses.append("error")
                    continue
                try:
                    for i, ts, fmd5 in frames_auto(bytes(payload), n_frames):
                        ids.append(doc_id); idxs.append(i); tss.append(ts)
                        md5s.append(fmd5); statuses.append("ok")
                except Exception:
                    ids.append(doc_id); idxs.append(0); tss.append(None)
                    md5s.append(None); statuses.append("error")
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_ts_ms": pd.array(tss, dtype="Int64"),
                    "frame_md5": md5s,
                    "status": statuses,
                }
            )

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


def extract_media_features(df: DataFrame) -> DataFrame:
    """(doc_id, media_type, payload) -> FEATURE_SCHEMA rows, one vectorized
    mapInPandas pass; per-row failures become status='error' rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            n_bytes, md5s, ws, hs, statuses = [], [], [], [], []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                if payload is None:
                    n_bytes.append(None)
                    md5s.append(None)
                    ws.append(None)
                    hs.append(None)
                    statuses.append("error")
                    continue
                raw = bytes(payload)
                try:
                    digest, w, h = decode_auto(raw, mt)
                    # content bytes: synthetic payloads exclude the MAGIC
                    # framing; real media is its own content
                    n_bytes.append(
                        len(raw) - len(MAGIC) if raw.startswith(MAGIC) else len(raw)
                    )
                    md5s.append(digest)
                    ws.append(w)
                    hs.append(h)
                    statuses.append("ok")
                except Exception:
                    n_bytes.append(len(raw))
                    md5s.append(None)
                    ws.append(None)
                    hs.append(None)
                    statuses.append("error")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.array(n_bytes, dtype="Int64"),
                    "content_md5": md5s,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "status": statuses,
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
