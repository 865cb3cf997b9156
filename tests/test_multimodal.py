"""X5 multimodal plumbing tests: Arrow batch shape, schema, stub
determinism, metadata-only pre-passes, ClickHouse DDL generation."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.operators import multimodal
from adguard2clickhouse_spark.sinks.clickhouse import (
    log2_ddl,
    spark_type_to_clickhouse,
    summing_ddl,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, b"\x89PNG-fake-bytes", ("image", "png", 64, 64, 0)),
        (2, b"RIFF-fake-audio", ("audio", "wav", 0, 0, 2500)),
        (3, b"mp4-fake-video", ("video", "mp4", 640, 480, 3500)),
        (4, None, ("image", "png", 8, 8, 0)),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_extract_features_schema_and_values(media_df):
    out = multimodal.extract_features(media_df, stub=True)
    assert out.schema == multimodal.FEATURES_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].sha256 == hashlib.sha256(b"\x89PNG-fake-bytes").hexdigest()
    assert rows[1].n_bytes == len(b"\x89PNG-fake-bytes")
    assert len(rows[1].features) == multimodal.FEATURE_DIM
    assert all(0.0 <= f < 1.0 for f in rows[1].features)
    # null payload → empty-bytes features, not a crash (K3 discipline)
    assert rows[4].sha256 == hashlib.sha256(b"").hexdigest()
    assert rows[4].n_bytes == 0


def test_extract_features_deterministic(media_df):
    a = {r.media_id: tuple(r.features) for r in multimodal.extract_features(media_df).collect()}
    b = {r.media_id: tuple(r.features) for r in multimodal.extract_features(media_df).collect()}
    assert a == b


def test_real_decode_is_a_hard_error(media_df):
    """Fake bytes must never silently become features: the PNG-tagged
    garbage dies in the stdlib decoder's signature check, audio/video
    dies at the NotImplementedError integration point."""
    with pytest.raises(Exception, match="NotImplementedError|media decoding|not a PNG"):
        multimodal.extract_features(media_df, stub=False).collect()


@pytest.fixture(scope="module")
def media_parquet(media_df, tmp_path_factory, spark):
    """Parquet round-trip: column pruning is only observable against a
    file scan (a LocalRelation leaf always lists every column)."""
    path = str(tmp_path_factory.mktemp("media") / "media.parquet")
    media_df.write.parquet(path)
    return spark.read.parquet(path)


def test_frame_sample_plan_metadata_only(media_parquet):
    plan = multimodal.frame_sample_plan(media_parquet, every_ms=1000)
    got = [(r.media_id, r.frame_ts_ms) for r in plan.orderBy("media_id", "frame_ts_ms").collect()]
    # only the video row; duration 3500ms @1000ms → ts 0,1000,2000,3000
    assert got == [(3, 0), (3, 1000), (3, 2000), (3, 3000)]
    # the payload bytes must never be read: pruned out of the scan
    physical = plan._jdf.queryExecution().executedPlan().toString()
    read_schema = [l for l in physical.splitlines() if "ReadSchema" in l]
    assert read_schema and all("payload" not in l for l in read_schema)


# ---------------------------------------------------------------------------
# ClickHouse sink DDL
# ---------------------------------------------------------------------------

def test_clickhouse_type_mapping():
    from pyspark.sql import types as T

    assert spark_type_to_clickhouse(T.TimestampType()) == "DateTime"
    assert spark_type_to_clickhouse(T.ArrayType(T.StringType())) == "Array(String)"
    with pytest.raises(ValueError):
        spark_type_to_clickhouse(T.MapType(T.StringType(), T.StringType()))


def test_log2_ddl_matches_reference_shape():
    ddl = log2_ddl()
    # README.md:4-22: MergeTree ORDER BY date_time with the 14 columns
    assert "ENGINE = MergeTree" in ddl
    assert "ORDER BY date_time" in ddl
    for col in ("`QH` String", "`IsFiltered` Bool", "`Elapsed` UInt64",
                "`rdatas` Array(String)"):
        assert col in ddl, col
    # the retry tokens process_batch sends dedupe on a non-replicated
    # MergeTree only inside a non-zero window
    assert ddl.endswith("SETTINGS non_replicated_deduplication_window = 1000")


def test_summing_ddl(spark):
    df = spark.createDataFrame([("a", 1)], "QH STRING, count LONG")
    ddl = summing_ddl("blocked_domains", df, keys=["QH"])
    assert "ENGINE = SummingMergeTree" in ddl
    assert "ORDER BY (`QH`)" in ddl


# ---------------------------------------------------------------------------
# Real container parsing (operators/mediahdr.py) — the X5 de-stub
# ---------------------------------------------------------------------------

def test_sniff_roundtrip_all_formats():
    from adguard2clickhouse_spark.operators import mediahdr as M

    for build, fmt in [(M.build_png, "png"), (M.build_jpeg, "jpeg"),
                       (M.build_gif, "gif"), (M.build_bmp, "bmp")]:
        out = M.sniff_header(build(123, 45))
        assert (out["format"], out["width"], out["height"]) == (fmt, 123, 45), fmt
    wav = M.sniff_header(M.build_wav(2500, sample_rate=16000, channels=2))
    assert wav["format"] == "wav"
    assert wav["duration_ms"] == 2500
    assert wav["sample_rate"] == 16000 and wav["channels"] == 2


def test_sniff_jpeg_skips_app_segments():
    """Real JPEGs carry APPn/comment segments before SOF — walk past them."""
    import struct

    from adguard2clickhouse_spark.operators import mediahdr as M

    exif = b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\x00\x00ab"
    jfif = b"\xff\xe0" + struct.pack(">H", 8) + b"JFIF\x00\x00"
    base = M.build_jpeg(640, 480)
    with_apps = base[:2] + jfif + exif + base[2:]
    out = M.sniff_header(with_apps)
    assert (out["format"], out["width"], out["height"]) == ("jpeg", 640, 480)


def test_sniff_never_raises_on_garbage():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from adguard2clickhouse_spark.operators import mediahdr as M

    @given(st.binary(max_size=200))
    @settings(max_examples=300, deadline=None)
    def _fuzz(data):
        out = M.sniff_header(data)
        assert set(out) == {"format", "width", "height", "duration_ms",
                            "sample_rate", "channels"}

    _fuzz()


def test_sniff_truncated_valid_prefixes():
    """Every truncation of a valid file must sniff cleanly (None is fine,
    a crash is not) — poison-payload safety."""
    from adguard2clickhouse_spark.operators import mediahdr as M

    for build in [lambda: M.build_png(9, 9), lambda: M.build_jpeg(9, 9),
                  lambda: M.build_gif(9, 9), lambda: M.build_bmp(9, 9),
                  lambda: M.build_wav(50)]:
        data = build()
        for cut in range(len(data)):
            M.sniff_header(data[:cut])  # must not raise


def test_probe_media_distributed(spark):
    from adguard2clickhouse_spark.operators import mediahdr as M

    rows = [
        (1, M.build_png(320, 200), ("image", "png", None, None, None)),
        (2, M.build_wav(1500), ("audio", "wav", None, None, None)),
        (3, b"not media at all", ("image", "png", None, None, None)),
        (4, None, ("image", "png", None, None, None)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.probe_media(media).collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("png", 320, 200)
    assert (got[2].format, got[2].duration_ms) == ("wav", 1500)
    assert got[3].format is None and got[4].format is None


def test_media_fixture_matches_probe(spark):
    """media_fixture_from_ids emits real files whose probed headers equal
    the arithmetic the oracle uses."""
    ids = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    media = multimodal.media_fixture_from_ids(ids, "doc_id")
    probed = {r.media_id: r for r in multimodal.probe_media(media).collect()}
    for i in range(50):
        r = probed[i]
        k = i % 7
        if k < 4:
            assert r.format == ["png", "jpeg", "gif", "bmp"][k]
            assert (r.width, r.height) == (1 + i % 300, 1 + i % 200)
        elif k == 4:
            assert r.format == "wav" and r.duration_ms == 10 + i % 490
            assert (r.sample_rate, r.channels) == (8000, 1)
        elif k == 5:
            assert r.format == "flac" and r.duration_ms == 10 + i % 490
            assert (r.sample_rate, r.channels) == (16000, 1 + i % 2)
        else:
            assert r.format == "mp3"
            assert r.duration_ms == (1 + i % 25) * 417 * 8 // 128
            assert (r.sample_rate, r.channels) == (44100, 2)


def test_flac_mp3_sniffers_roundtrip_and_reject(spark):
    """FLAC STREAMINFO and MPEG-1 L3 headers round-trip through their
    builders (incl. an ID3v2-prefixed mp3); truncated and desynced
    payloads return format=None instead of raising."""
    from adguard2clickhouse_spark.operators import mediahdr as m

    f = m.sniff_header(m.build_flac(48000 * 2, sample_rate=48000, channels=2))
    assert (f["format"], f["duration_ms"], f["sample_rate"], f["channels"]) == (
        "flac", 2000, 48000, 2,
    )
    raw = m.build_mp3(7, bitrate_kbps=192, sample_rate=32000, channels=1)
    p = m.sniff_header(raw)
    assert (p["format"], p["sample_rate"], p["channels"]) == ("mp3", 32000, 1)
    assert p["duration_ms"] == len(raw) * 8 // 192
    # ID3v2 prefix skipped, duration counts only audio bytes
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x06tag pad" * 1  # syncsafe size 6
    t = m.sniff_header(tagged[:10] + b"x" * 6 + raw)
    assert t["format"] == "mp3" and t["duration_ms"] == len(raw) * 8 // 192
    assert m.sniff_header(b"fLaC\x00\x00")["format"] is None
    assert m.sniff_header(b"\xff\xfb")["format"] is None  # truncated mp3
    assert m.sniff_header(m.build_flac(100)[:20])["format"] is None


# ---------------------------------------------------------------------------
# Optional-dependency real decode (VERDICT r2 #8)
# ---------------------------------------------------------------------------

def test_decode_media_hard_errors_without_pil(monkeypatch):
    """The stub must never silently fake pixels: with Pillow absent
    (forced), stub=False is a hard error for NON-PNG image content
    (PNG decodes stdlib-natively, so garbage PNG bytes die in the
    decoder's validation, not with fake pixels)."""
    from adguard2clickhouse_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "HAVE_PIL", False)
    with pytest.raises(ValueError, match="signature"):
        mm.decode_media(b"\x89PNG....", "image", "png")
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"\xff\xd8\xff....", "image", "jpeg")
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"RIFF....", "audio", "wav")


def test_real_decode_with_pil(spark):
    """Runs only when Pillow is installed: fixture PNG/BMP/GIF payloads
    decode to real pixel arrays and stub=False features come from
    pixels, not hashes."""
    pytest.importorskip("PIL")
    from adguard2clickhouse_spark.operators import multimodal as mm

    ids = spark.range(0, 28).withColumnRenamed("id", "doc_id")
    media = mm.media_fixture_from_ids(ids).filter(
        F.col("meta.kind") == "image"
    )
    feats = mm.extract_features(media, stub=False).collect()
    assert feats and all(len(r["features"]) == mm.FEATURE_DIM for r in feats)
    # real pixel features differ from the hash-stub features
    stub_feats = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(media, stub=True).collect()
    }
    assert any(stub_feats[r["media_id"]] != r["features"] for r in feats)


# ---------------------------------------------------------------------------
# Stdlib PNG codec (round-4 ask #4): pixel decode real in THIS container
# ---------------------------------------------------------------------------

def test_pngcodec_roundtrip_all_filters():
    """encode(cycle filters 0..4) -> decode reconstructs every pixel;
    shapes from 1x1 up so boundary rows/columns hit the left/up-missing
    filter cases."""
    import numpy as np

    from adguard2clickhouse_spark.operators.pngcodec import decode_png, encode_png

    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (2, 2), (5, 3), (7, 1), (1, 9), (13, 17)]:
        arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for mode in ("none", "cycle"):
            out = decode_png(encode_png(arr, mode))
            assert out.dtype == np.uint8 and out.shape == arr.shape
            assert (out == arr).all(), (h, w, mode)


def test_pngcodec_decodes_gray_rgba_palette():
    """Hand-built PNGs in the non-RGB color types decode to the RGB
    convention PIL's convert('RGB') would give for opaque images."""
    import struct
    import zlib

    import numpy as np

    from adguard2clickhouse_spark.operators.pngcodec import _chunk, _SIG, decode_png

    def png(ctype, w, h, scanlines, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        body = b"".join(b"\x00" + s for s in scanlines)
        out = _SIG + _chunk(b"IHDR", ihdr)
        if plte is not None:
            out += _chunk(b"PLTE", plte)
        return out + _chunk(b"IDAT", zlib.compress(body)) + _chunk(b"IEND", b"")

    # gray 2x2: values 10,20 / 30,40 -> broadcast to 3 channels
    g = decode_png(png(0, 2, 2, [bytes([10, 20]), bytes([30, 40])]))
    assert (g == np.array([[[10] * 3, [20] * 3], [[30] * 3, [40] * 3]])).all()
    # gray+alpha 1x2
    ga = decode_png(png(4, 2, 1, [bytes([100, 255, 200, 255])]))
    assert (ga == np.array([[[100] * 3, [200] * 3]])).all()
    # RGBA 1x2 (alpha dropped)
    rgba = decode_png(png(6, 2, 1, [bytes([1, 2, 3, 255, 4, 5, 6, 255])]))
    assert (rgba == np.array([[[1, 2, 3], [4, 5, 6]]])).all()
    # palette 1x2 -> PLTE lookup
    pal = decode_png(png(3, 2, 1, [bytes([0, 1])], plte=bytes([9, 8, 7, 1, 2, 3])))
    assert (pal == np.array([[[9, 8, 7], [1, 2, 3]]])).all()


def test_pngcodec_rejects_out_of_scope():
    import struct

    import numpy as np
    import pytest as _pytest

    from adguard2clickhouse_spark.operators.pngcodec import (
        _chunk,
        _SIG,
        decode_png,
        encode_png,
    )

    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"\x89PNG-fake-bytes")
    # 16-bit depth rejected, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    with _pytest.raises(ValueError, match="bit depth"):
        decode_png(_SIG + _chunk(b"IHDR", ihdr))
    # interlace rejected
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)
    with _pytest.raises(ValueError, match="interlaced"):
        decode_png(_SIG + _chunk(b"IHDR", ihdr))
    with _pytest.raises(ValueError):
        encode_png(np.zeros((4, 4), np.uint8))  # not (h, w, 3)


def test_pngcodec_matches_pillow_when_available():
    """Cross-check against PIL on real encodes (skip when absent)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from adguard2clickhouse_spark.operators.pngcodec import decode_png, encode_png

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (9, 11, 3), dtype=np.uint8)
    data = encode_png(arr, "cycle")
    with PIL.open(io.BytesIO(data)) as im:
        pil_px = np.asarray(im.convert("RGB"))
    assert (decode_png(data) == pil_px).all()


def test_extract_features_real_decode_on_png(spark):
    """stub=False now executes a REAL pixel decode in this container
    for PNG payloads — features come from _pixel_features over actual
    reconstructed pixels, not the sha256 stub."""
    import numpy as np

    from adguard2clickhouse_spark.operators.pngcodec import encode_png

    arr = np.full((6, 4, 3), 128, np.uint8)
    arr[:, :, 0] = 255  # red-heavy so the channel means are distinctive
    rows = [(1, encode_png(arr, "cycle"), ("image", "png", 4, 6, 0))]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, stub=False).collect()[0]
    f = feats.features
    assert abs(f[0] - 1.0) < 1e-6          # mean R == 255/255
    assert abs(f[1] - 128 / 255) < 1e-6    # mean G
    assert f[3] < 1e-6 and f[4] < 1e-6     # zero std within channels


def test_pngcodec_roundtrip_property():
    """Property: ANY uint8 RGB array round-trips through encode(cycle)
    -> decode bit-exactly (hypothesis over shapes and pixel content)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from adguard2clickhouse_spark.operators.pngcodec import decode_png, encode_png

    @given(
        st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**31 - 1)
    )
    @settings(max_examples=60, deadline=None)
    def _roundtrip(h, w, seed):
        arr = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(arr, "cycle")) == arr).all()

    _roundtrip()
