"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batch kernels.

The container parsing is REAL (PNG chunk walk for images; a simple
length-prefixed frame container for 'video'; RIFF/WAVE for 'audio').
As of round 4 the image PIXEL path is real (``png_pixels``: scanline
codec + resize) and as of round 5 the audio SAMPLE path is real too
(``wav_pcm``: RIFF chunk-walk decode to int16 PCM, DSP features over
actual samples — peak / mean-square energy / zero-crossing rate), and
video frame CONTENT decode is real for PNG-framed containers
(``media_video_frame_decode``: sample -> png_pixels decode -> per-frame
pixel aggregates). Only inter-frame video codecs (h264 etc.) remain out
of scope — no such codec can be built from stdlib. What
matters at 100 TB is exercised for real throughout: schema, binary-safe
Arrow batching, partitioning, and metadata extraction without reading
payload bodies where possible.

Oracle-checked queries build the media table IN CATALYST from the driver
``documents`` table, so DuckDB can predict every output value.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._io import read_spread
from ..extraction_core.png_pixels import PNG_MAGIC

MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("meta", MEDIA_META, True),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


# ---------------------------------------------------------------------------
# container builders (deterministic synthetic assets)
# ---------------------------------------------------------------------------

def make_image(width: int, height: int) -> bytes:
    """Minimal PNG: real signature + IHDR (no pixel data needed for meta)."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    import zlib

    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    return PNG_MAGIC + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(">I", crc)


def make_audio(
    sample_rate: int, n_samples: int, amplitude: int = 1000, half_period: int = 4
) -> bytes:
    """REAL mono PCM16 WAV (round 5): a deterministic square wave
    through the from-scratch RIFF codec (``wav_pcm``). The canonical
    chunk layout keeps header-field offsets identical to the former
    header-only stand-in, so metadata sniffers are unchanged — but the
    payload now carries actual samples the DSP kernel decodes."""
    from ..extraction_core.wav_pcm import encode_wav_pcm16, square_wave

    return encode_wav_pcm16(
        square_wave(n_samples, amplitude, half_period), sample_rate
    )


def make_video(frames: list[bytes]) -> bytes:
    """Length-prefixed frame container: [u32 n][u32 len, frame]*."""
    out = bytearray(b"VID0" + struct.pack(">I", len(frames)))
    for fr in frames:
        out += struct.pack(">I", len(fr)) + fr
    return bytes(out)


# ---------------------------------------------------------------------------
# decode kernel (mapInPandas): container parse real, pixel decode stubbed
# ---------------------------------------------------------------------------

def decode_media_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in it:
        rows = {k: [] for k in ("asset_id", "kind", "meta", "payload_bytes", "status")}
        for aid, kind, payload in zip(batch["asset_id"], batch["kind"], batch["payload"]):
            raw = bytes(payload) if payload is not None else b""
            meta = None
            status = "succeeded"
            try:
                if kind == "image" and raw.startswith(PNG_MAGIC):
                    w, h = struct.unpack(">II", raw[16:24])
                    meta = {"width": int(w), "height": int(h), "n_frames": 1,
                            "sample_rate": None, "codec": "png"}
                elif kind == "audio" and raw[:4] == b"RIFF":
                    sr = struct.unpack("<I", raw[24:28])[0]
                    meta = {"width": None, "height": None, "n_frames": None,
                            "sample_rate": int(sr), "codec": "pcm"}
                elif kind == "video" and raw[:4] == b"VID0":
                    n = struct.unpack(">I", raw[4:8])[0]
                    meta = {"width": None, "height": None, "n_frames": int(n),
                            "sample_rate": None, "codec": "vid0"}
                else:
                    status = "failed"
            except Exception:  # noqa: BLE001 — corrupt container = failed row
                status = "failed"
            rows["asset_id"].append(aid)
            rows["kind"].append(kind)
            rows["meta"].append(meta)
            rows["payload_bytes"].append(len(raw))
            rows["status"].append(status)
        yield pd.DataFrame(rows)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize of an 8-bit grayscale PNG — REAL pixel
    work as of round 4: decode (chunk walk + IDAT inflate + scanline
    unfilter, ``extraction_core/png_pixels.py``), numpy resample,
    re-encode. Color/interlaced PNGs and pixel-less metadata containers
    (``make_image``) raise ValueError — no image library exists here to
    handle them, and a silent wrong answer would be worse than an error
    row (the kernel callers turn raised errors into failed rows).
    """
    from ..extraction_core.png_pixels import (
        decode_png_gray,
        encode_png_gray,
        resize_gray,
    )

    return encode_png_gray(resize_gray(decode_png_gray(payload), width, height))


def frame_sample_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sample every k-th frame of VID0 containers (real byte slicing)."""
    for batch in it:
        out = {"asset_id": [], "frame_no": [], "frame_bytes": []}
        for aid, payload, k in zip(batch["asset_id"], batch["payload"], batch["every_k"]):
            raw = bytes(payload)
            if raw[:4] != b"VID0":
                continue
            n = struct.unpack(">I", raw[4:8])[0]
            pos = 8
            for i in range(n):
                (ln,) = struct.unpack(">I", raw[pos : pos + 4])
                frame = raw[pos + 4 : pos + 4 + ln]
                pos += 4 + ln
                if i % int(k) == 0:
                    out["asset_id"].append(aid)
                    out["frame_no"].append(i)
                    out["frame_bytes"].append(len(frame))
        yield pd.DataFrame(out)


# ---------------------------------------------------------------------------
# oracle-checked queries: media table synthesized in Catalyst
# ---------------------------------------------------------------------------

def _media(spark, sf_dir):
    """documents -> media assets: image / audio / video round-robin by
    doc_id, payload built by deterministic udf-free rules is impossible in
    Catalyst (binary containers), so a tiny Arrow kernel builds payloads —
    sizes derive from n_chars so the oracle can predict every value."""
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")

    def build(it):
        for batch in it:
            rows = {"asset_id": [], "kind": [], "payload": []}
            for did, nc in zip(batch["doc_id"], batch["n_chars"]):
                did, nc = int(did), int(nc)
                kind = ("image", "audio", "video")[did % 3]
                if kind == "image":
                    payload = make_image(nc, nc // 2 + 1)
                elif kind == "audio":
                    payload = make_audio(8000 + nc, nc)
                else:
                    payload = make_video([b"x" * (nc % 7 + 1)] * (nc % 5 + 1))
                rows["asset_id"].append(did)
                rows["kind"].append(kind)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(build, "asset_id long, kind string, payload binary")


def q_media_decode(spark, sf_dir):
    media = _media(spark, sf_dir)
    decoded = media.mapInPandas(decode_media_batch, DECODE_SCHEMA)
    return decoded.select(
        "asset_id",
        "kind",
        F.col("meta.width").cast("bigint").alias("width"),
        F.col("meta.sample_rate").cast("bigint").alias("sample_rate"),
        F.col("meta.n_frames").cast("bigint").alias("n_frames"),
        "status",
    )


SQL_MEDIA_DECODE = """
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE WHEN doc_id % 3 = 0 THEN n_chars END AS width,
       CASE WHEN doc_id % 3 = 1 THEN 8000 + n_chars END AS sample_rate,
       CASE doc_id % 3 WHEN 0 THEN 1 WHEN 2 THEN n_chars % 5 + 1 END AS n_frames,
       'succeeded' AS status
FROM documents
"""


def q_media_frame_sample(spark, sf_dir):
    media = _media(spark, sf_dir).filter(F.col("kind") == "video")
    frames = media.withColumn("every_k", F.lit(2)).mapInPandas(
        frame_sample_batch, "asset_id long, frame_no int, frame_bytes long"
    )
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("frame_bytes").alias("sampled_bytes"),
    )


SQL_MEDIA_FRAMES = """
SELECT doc_id AS asset_id,
       CAST(ceil((n_chars % 5 + 1) / 2.0) AS BIGINT) AS n_sampled,
       CAST(ceil((n_chars % 5 + 1) / 2.0) AS BIGINT) * (n_chars % 7 + 1) AS sampled_bytes
FROM documents WHERE doc_id % 3 = 2
"""


# ---------------------------------------------------------------------------
# feature extraction: typed per-kind features from REAL container math
# (aspect ratio from PNG IHDR, duration from WAV fmt/data sizes, video
# duration at the container's nominal 25 fps) — the feature-extract stage
# of a multimodal training pipeline, minus only the pixel/sample decode
# this environment cannot run
# ---------------------------------------------------------------------------

VIDEO_FPS = 25.0

FEATURE_SCHEMA = (
    "asset_id long, kind string, duration_s double, aspect_ratio double, status string"
)


def feature_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in it:
        out = {"asset_id": [], "kind": [], "duration_s": [], "aspect_ratio": [], "status": []}
        for aid, kind, payload in zip(batch["asset_id"], batch["kind"], batch["payload"]):
            raw = bytes(payload) if payload is not None else b""
            dur = None
            ar = None
            status = "succeeded"
            try:
                if kind == "image" and raw.startswith(PNG_MAGIC):
                    w, h = struct.unpack(">II", raw[16:24])
                    ar = w / h if h else None
                elif kind == "audio" and raw[:4] == b"RIFF":
                    sr = struct.unpack("<I", raw[24:28])[0]
                    n_samples = struct.unpack("<I", raw[40:44])[0] // 2
                    dur = n_samples / sr if sr else None
                elif kind == "video" and raw[:4] == b"VID0":
                    n = struct.unpack(">I", raw[4:8])[0]
                    dur = n / VIDEO_FPS
                else:
                    status = "failed"
            except Exception:  # noqa: BLE001 — corrupt container = failed row
                status = "failed"
            out["asset_id"].append(aid)
            out["kind"].append(kind)
            out["duration_s"].append(dur)
            out["aspect_ratio"].append(ar)
            out["status"].append(status)
        yield pd.DataFrame(out)


def q_media_features(spark, sf_dir):
    from ..functions.text import r4

    media = _media(spark, sf_dir)
    feats = media.mapInPandas(feature_batch, FEATURE_SCHEMA)
    return feats.select(
        "asset_id",
        "kind",
        r4(F.col("duration_s")).alias("duration_s"),
        r4(F.col("aspect_ratio")).alias("aspect_ratio"),
        "status",
    )


SQL_MEDIA_FEATURES = """
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE doc_id % 3
            WHEN 1 THEN floor((n_chars / (8000.0 + n_chars)) * 10000 + 0.5) / 10000
            WHEN 2 THEN floor(((n_chars % 5 + 1) / 25.0) * 10000 + 0.5) / 10000
       END AS duration_s,
       CASE WHEN doc_id % 3 = 0
            THEN floor((n_chars / CAST(n_chars // 2 + 1 AS DOUBLE)) * 10000 + 0.5) / 10000
       END AS aspect_ratio,
       'succeeded' AS status
FROM documents
"""


# ---------------------------------------------------------------------------
# audio DSP over REAL decoded samples (round 5): encode a deterministic
# square wave per doc through the from-scratch WAV codec, chunk-walk
# decode it back to int16 PCM, and compute sample-level features — peak,
# exact mean-square energy, zero-crossing count. Every feature has a
# closed form on a square wave, so the oracle predicts the decoded math
# exactly; doc_id % 13 == 5 rows get truncated payloads and must come
# back as failed rows (the S5 quarantine discipline at the sample layer).
# ---------------------------------------------------------------------------


def _audio_build_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in it:
        rows = {"asset_id": [], "payload": []}
        for did, nc in zip(batch["doc_id"], batch["n_chars"]):
            did, nc = int(did), int(nc)
            payload = make_audio(
                8000 + nc % 4000,
                nc % 64 + 8,
                amplitude=500 + did % 1000,
                half_period=2 + did % 6,
            )
            if did % 13 == 5:  # deterministic corruption: truncated framing
                payload = payload[:20]
            rows["asset_id"].append(did)
            rows["payload"].append(payload)
        yield pd.DataFrame(rows)


def audio_dsp_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..extraction_core.wav_pcm import decode_wav_pcm16

    cols = ("asset_id", "n_samples", "sample_rate", "peak", "mean_square",
            "n_zero_crossings", "status")
    for batch in it:
        out = {k: [] for k in cols}
        for aid, payload in zip(batch["asset_id"], batch["payload"]):
            try:
                s, sr = decode_wav_pcm16(bytes(payload))
                s64 = s.astype(np.int64)
                n = len(s64)
                vals = (
                    n,
                    sr,
                    int(np.abs(s64).max()) if n else None,
                    int((s64 * s64).sum() // n) if n else None,  # exact int
                    int(np.count_nonzero(s64[1:] * s64[:-1] < 0)),
                    "succeeded",
                )
            except ValueError:
                vals = (None, None, None, None, None, "failed")
            for k, v in zip(cols[1:], vals):
                out[k].append(v)
            out["asset_id"].append(int(aid))
        yield pd.DataFrame(out)


def q_media_audio_dsp(spark, sf_dir):
    from ..functions.text import r4

    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    wavs = docs.repartition(16).mapInPandas(
        _audio_build_batch, "asset_id long, payload binary"
    )
    feats = wavs.mapInPandas(
        audio_dsp_batch,
        "asset_id long, n_samples long, sample_rate long, peak long, "
        "mean_square long, n_zero_crossings long, status string",
    )
    return feats.select(
        "asset_id", "n_samples", "sample_rate", "peak", "mean_square",
        "n_zero_crossings",
        r4(F.col("n_samples") / F.col("sample_rate")).alias("duration_s"),
        "status",
    )


SQL_AUDIO_DSP = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 13 != 5 THEN CAST(n_chars % 64 + 8 AS BIGINT) END AS n_samples,
       CASE WHEN doc_id % 13 != 5 THEN CAST(8000 + n_chars % 4000 AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 13 != 5 THEN CAST(500 + doc_id % 1000 AS BIGINT) END AS peak,
       CASE WHEN doc_id % 13 != 5
            THEN CAST((500 + doc_id % 1000) * (500 + doc_id % 1000) AS BIGINT) END AS mean_square,
       CASE WHEN doc_id % 13 != 5
            THEN CAST((n_chars % 64 + 7) // (2 + doc_id % 6) AS BIGINT) END AS n_zero_crossings,
       CASE WHEN doc_id % 13 != 5
            THEN floor((CAST(n_chars % 64 + 8 AS DOUBLE) / (8000 + n_chars % 4000))
                       * 10000 + 0.5) / 10000 END AS duration_s,
       CASE WHEN doc_id % 13 = 5 THEN 'failed' ELSE 'succeeded' END AS status
FROM documents
"""


# ---------------------------------------------------------------------------
# video frame CONTENT decode (round 5): frames inside the VID0 container
# are now REAL grayscale PNGs, so frame sampling composes with the
# from-scratch raster codec (png_pixels) — sample every k-th frame, then
# DECODE its pixels and aggregate them. This is the Spark shape of a
# frame-understanding stage (sample -> decode -> per-frame features);
# only inter-frame video codecs (h264 etc.) remain out of scope, since
# no such codec can be built from stdlib. Frame pixel values are
# deterministic in (doc_id, frame_no), so the oracle predicts the
# decoded pixel sums exactly.
# ---------------------------------------------------------------------------


def _video_build_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..extraction_core.png_pixels import encode_png_gray

    for batch in it:
        rows = {"asset_id": [], "payload": []}
        for did, nc in zip(batch["doc_id"], batch["n_chars"]):
            did, nc = int(did), int(nc)
            w, h = nc % 16 + 4, nc % 8 + 4
            frames = [
                encode_png_gray(
                    np.full((h, w), (did * 7 + i * 13) % 256, dtype=np.uint8)
                )
                for i in range(nc % 5 + 1)
            ]
            rows["asset_id"].append(did)
            rows["payload"].append(make_video(frames))
        yield pd.DataFrame(rows)


def video_frame_decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..extraction_core.png_pixels import decode_png_gray

    for batch in it:
        out = {"asset_id": [], "frame_no": [], "width": [], "height": [],
               "pixel_sum": []}
        for aid, payload, k in zip(batch["asset_id"], batch["payload"], batch["every_k"]):
            raw = bytes(payload)
            if raw[:4] != b"VID0":
                continue
            n = struct.unpack(">I", raw[4:8])[0]
            pos = 8
            for i in range(n):
                (ln,) = struct.unpack(">I", raw[pos : pos + 4])
                frame = raw[pos + 4 : pos + 4 + ln]
                pos += 4 + ln
                if i % int(k) != 0:
                    continue  # sampling BEFORE decode: skipped frames cost 0
                px = decode_png_gray(frame)
                out["asset_id"].append(int(aid))
                out["frame_no"].append(i)
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["pixel_sum"].append(int(px.astype(np.int64).sum()))
        yield pd.DataFrame(out)


def q_media_video_frames(spark, sf_dir):
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    vids = docs.repartition(16).mapInPandas(
        _video_build_batch, "asset_id long, payload binary"
    )
    return vids.withColumn("every_k", F.lit(2)).mapInPandas(
        video_frame_decode_batch,
        "asset_id long, frame_no long, width long, height long, pixel_sum long",
    )


SQL_VIDEO_FRAMES = """
SELECT doc_id AS asset_id,
       CAST(i AS BIGINT) AS frame_no,
       CAST(n_chars % 16 + 4 AS BIGINT) AS width,
       CAST(n_chars % 8 + 4 AS BIGINT) AS height,
       CAST(((doc_id * 7 + i * 13) % 256)
            * (n_chars % 16 + 4) * (n_chars % 8 + 4) AS BIGINT) AS pixel_sum
FROM (SELECT doc_id, n_chars, unnest(range(0, n_chars % 5 + 1)) AS i FROM documents)
WHERE i % 2 = 0
"""


QUERIES = {
    "media_decode_meta": q_media_decode,
    "media_frame_sample": q_media_frame_sample,
    "media_feature_extract": q_media_features,
    "media_audio_dsp": q_media_audio_dsp,
    "media_video_frame_decode": q_media_video_frames,
}

ORACLES = {
    "media_decode_meta": SQL_MEDIA_DECODE,
    "media_frame_sample": SQL_MEDIA_FRAMES,
    "media_feature_extract": SQL_MEDIA_FEATURES,
    "media_audio_dsp": SQL_AUDIO_DSP,
    "media_video_frame_decode": SQL_VIDEO_FRAMES,
}
