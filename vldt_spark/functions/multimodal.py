"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side machinery (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested, and so are the codecs this container can
support with zero new dependencies:

  * PNG  — REAL pixel decode: chunk walk, zlib inflate of IDAT, full
    None/Sub/Up/Average/Paeth scanline unfiltering (PNG spec §9),
    bit depth 8, color types 0/2/4/6, non-interlaced. A matching
    encoder exists so tests round-trip pixels through two independent
    byte-level code paths.
  * WAV  — REAL PCM sample decode (8/16-bit LE) from fmt/data chunks.
  * JPEG — header/dimension parse only (``parse_media_headers``); an
    entropy decoder is out of scope with no codec libs, so feature
    extraction falls back to byte statistics for JPEG (documented).
  * video — frame-TIMESTAMP sampling only (the explode + partitioning
    plumbing); pixel-level frame decode needs ffmpeg/pyav.

Batches flow through ``mapInPandas`` so each Arrow batch carries the
binary payloads zero-copy to the Python worker. Scale note: the PNG
Average/Paeth unfilter is sequential per scanline byte (spec-mandated
data dependency) and runs as a Python loop here; None/Sub/Up rows are
numpy-vectorized. A production deployment would swap `_decode_png_pixels`
for a compiled codec — every signature and batch shape stays the same.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark.rounding import round6

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4) — scalar, used by the decoder."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png_pixels(b: bytes | None) -> np.ndarray | None:
    """REAL zero-dependency PNG pixel decode: stdlib ``zlib`` inflate of
    the IDAT stream + scanline unfiltering per PNG spec §9 (all five
    filter types). Supports bit depth 8, color types 0 (gray), 2 (RGB),
    4 (gray+alpha), 6 (RGBA), interlace 0. Returns ``(h, w, channels)``
    uint8, or None for anything unsupported/malformed — a bad payload is
    a validation OUTCOME, never an executor crash.

    Unfiltering strategy: None/Up rows are pure numpy; Sub rows are a
    per-channel ``cumsum % 256`` (the recurrence r[x]=f[x]+r[x-1] is a
    prefix sum); Average/Paeth rows carry a true sequential byte
    dependency and run as Python loops (see module docstring)."""
    if b is None or len(b) < 45 or b[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    i, n = 8, len(b)
    w = h = depth = ctype = interlace = None
    idat: list[bytes] = []
    while i + 8 <= n:
        clen = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + clen]
        if len(data) < clen:
            return None
        if typ == b"IHDR":
            if clen != 13:
                return None
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype = data[8], data[9]
            interlace = data[12]
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + clen  # len + type + data + CRC
    channels = _PNG_CHANNELS.get(ctype) if ctype is not None else None
    if not w or not h or depth != 8 or interlace != 0 or channels is None or not idat:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels
    for y in range(h):
        ft = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: prefix sum per channel
            cur = line.copy()
            for ch in range(bpp):
                cur[ch::bpp] = np.cumsum(line[ch::bpp]) % 256
        elif ft == 2:  # Up
            cur = (line + prev) % 256
        elif ft == 3:  # Average (sequential: needs reconstructed left)
            cur = line
            for j in range(stride):
                left = cur[j - bpp] if j >= bpp else 0
                cur[j] = (line[j] + ((left + prev[j]) >> 1)) % 256
        elif ft == 4:  # Paeth (sequential)
            cur = line
            for j in range(stride):
                a = int(cur[j - bpp]) if j >= bpp else 0
                c = int(prev[j - bpp]) if j >= bpp else 0
                cur[j] = (line[j] + _paeth(a, int(prev[j]), c)) % 256
        else:
            return None
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, channels)


def encode_png(pixels: np.ndarray, *, cycle_filters: bool = True) -> bytes:
    """REAL PNG encoder (test/bench fixture source — two independent
    byte-level code paths: this writer forward-filters with vectorized
    numpy + ``struct.pack`` big-endian fields + real CRC32 chunks; the
    decoder above re-reads with ``int.from_bytes`` + its own unfilter
    kernels). ``cycle_filters`` applies filter type ``y % 5`` per
    scanline so a round-trip exercises every filter; otherwise filter 0.

    Accepts ``(h, w)`` gray or ``(h, w, c)`` for c in {1,2,3,4} uint8."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros((w, c), dtype=np.int32)
    zero_px = np.zeros((1, c), dtype=np.int32)
    for y in range(h):
        cur = px[y].astype(np.int32)
        left = np.vstack([zero_px, cur[:-1]])
        upleft = np.vstack([zero_px, prev[:-1]])
        ft = (y % 5) if cycle_filters else 0
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = cur - left
        elif ft == 2:
            filt = cur - prev
        elif ft == 3:
            filt = cur - ((left + prev) >> 1)
        else:
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        raw.append(ft)
        raw += (filt % 256).astype(np.uint8).tobytes()
        prev = cur

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_image_pixels(b: bytes | None) -> np.ndarray | None:
    """Dispatch REAL pixel decode by container signature: PNG via the
    zlib-inflate/unfilter path, baseline JPEG via the zero-dep T.81
    decoder (jpegcodec.py).  Anything else -> None (degrade-to-null)."""
    if b is None or len(b) < 4:
        return None
    if b[: len(_PNG_SIG)] == _PNG_SIG:
        return _decode_png_pixels(b)
    if b[0:2] == b"\xff\xd8":
        from vldt_spark.functions.jpegcodec import decode_jpeg

        return decode_jpeg(b)
    return None


def _decode_wav_samples(b: bytes | None) -> tuple[np.ndarray, int, int] | None:
    """REAL WAV PCM decode, zero deps: walks RIFF chunks, requires
    ``fmt `` audio_format 1 (PCM) with 8 or 16 bits/sample, returns
    ``(samples, sample_rate, bits)`` where samples are the interleaved
    channel values (uint8 0..255 for 8-bit per the WAV convention,
    int16 LE for 16-bit). Truncated data chunks decode the bytes
    actually present. None for anything unsupported/malformed."""
    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, n = 12, len(b)
    fmt = None
    data = None
    while i + 8 <= n:
        cid = b[i : i + 4]
        csize = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 8 + 16 <= n:
            fmt = b[i + 8 : i + 8 + min(csize, 16)]
        elif cid == b"data":
            data = b[i + 8 : i + 8 + csize]
        if fmt is not None and data is not None:
            break
        i += 8 + csize + (csize & 1)
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits not in (8, 16):
        return None
    if bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
    else:
        samples = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
    return samples, sample_rate, bits

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_image_batch(payloads: pd.Series) -> np.ndarray:
    """Per-payload 8-float feature vector. PNG payloads get REAL pixel
    decode (``_decode_png_pixels``) and the features are computed over the
    decoded pixel values; any other payload (JPEG entropy data, opaque
    binaries) falls back to the same statistics over the raw bytes — the
    documented fallback for formats that need a codec library."""
    feats = np.zeros((len(payloads), 8), dtype=np.float32)
    for i, b in enumerate(payloads):
        if b is None or len(b) == 0:
            continue
        px = _decode_png_pixels(bytes(b))
        arr = px.reshape(-1) if px is not None else np.frombuffer(b, dtype=np.uint8)
        feats[i] = [
            len(arr),
            float(arr.mean()),
            float(arr.std()),
            float(arr.min()),
            float(arr.max()),
            float(arr[: len(arr) // 2].mean()) if len(arr) > 1 else 0.0,
            float(arr[len(arr) // 2 :].mean()) if len(arr) > 1 else 0.0,
            float((arr.astype(np.int64) ** 2).mean()),
        ]
    return feats


def extract_features(media: DataFrame, *, batch_note: str = "image") -> DataFrame:
    """Binary payloads → fixed-size features via mapInPandas (Arrow batches).

    Partition sizing note for 100 TB: binary payloads dominate batch memory;
    callers should set ``spark.sql.files.maxPartitionBytes`` (or repartition)
    so a single Arrow batch of payloads fits the Python worker — the
    transform itself is embarrassingly parallel, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _decode_image_batch(pdf["payload"])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "feature": list(feats),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(media: DataFrame, *, width: int = 32, height: int = 32) -> DataFrame:
    """Image resize via mapInPandas. PNG payloads get REAL pixel-level
    nearest-neighbor resampling: decode (``_decode_png_pixels``), index
    rows/cols at ``floor(i * in/out)``, re-encode as PNG — the output
    payload is a valid PNG of the target size. Non-PNG payloads fall back
    to deterministic strided byte-downsampling to ``w*h`` bytes (the
    documented no-codec fallback). Embarrassingly parallel, no shuffle;
    payload bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            out_payloads = []
            for b in pdf["payload"]:
                if b is None or len(b) == 0:
                    out_payloads.append(None)
                    continue
                px = _decode_png_pixels(bytes(b))
                if px is not None:
                    h_in, w_in = px.shape[0], px.shape[1]
                    ys = (np.arange(height) * h_in) // height
                    xs = (np.arange(width) * w_in) // width
                    out_payloads.append(encode_png(px[ys][:, xs], cycle_filters=False))
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                idx = np.linspace(0, len(arr) - 1, num=target).astype(np.int64)
                out_payloads.append(arr[idx].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out_payloads,
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def frame_timestamps(media: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Video frame-TIMESTAMP sampling: expands each video row into frame
    timestamps by metadata alone — no payload decode. Use this to pick
    WHICH frames to pay decode for; ``frame_stats`` does real pixel
    decode on sampled frames. The explode + downstream partitioning is
    the scale concern exercised here."""
    n_frames = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return media.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_mean", T.DoubleType(), True),
        T.StructField("px_std", T.DoubleType(), True),
    ]
)


def frame_stats(
    media: DataFrame,
    *,
    every_n: int = 1,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling + pixel decode over AVI/MJPEG payloads
    (videocodec.py): one row per sampled frame with decoded pixel stats.
    Skipped frames never pay JPEG decode (the movi chunk walk is
    O(bytes), decompression only on selected frames).  Undecodable
    payloads emit a single NULL-stats row.  Parallelism is across
    videos; only (id, frame stats) leave the executor — never pixels."""
    from vldt_spark.functions.videocodec import decode_avi_frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in FRAME_STATS_SCHEMA.fields}
            for mid, b in zip(pdf[id_col].astype(str), pdf[payload_col]):
                frames = decode_avi_frames(
                    bytes(b) if b is not None else None, every_n=every_n
                )
                if not frames:
                    rows["media_id"].append(mid)
                    for k in ("frame_idx", "width", "height", "n_channels",
                              "px_sum", "px_mean", "px_std"):
                        rows[k].append(None)
                    continue
                for idx, px in frames:
                    h, w, c = px.shape
                    s1 = int(px.astype(np.int64).sum())
                    n = h * w * c
                    s2 = int((px.astype(np.int64) ** 2).sum())
                    mean = s1 / n
                    var = s2 / n - mean * mean
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["n_channels"].append(c)
                    rows["px_sum"].append(s1)
                    rows["px_mean"].append(round6(mean))
                    rows["px_std"].append(
                        round6(float(np.sqrt(max(var, 0.0))))
                    )
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "frame_idx": pd.array(rows["frame_idx"], dtype="Int32"),
                    "width": pd.array(rows["width"], dtype="Int32"),
                    "height": pd.array(rows["height"], dtype="Int32"),
                    "n_channels": pd.array(rows["n_channels"], dtype="Int32"),
                    "px_sum": pd.array(rows["px_sum"], dtype="Int64"),
                    "px_mean": pd.array(rows["px_mean"], dtype="Float64"),
                    "px_std": pd.array(rows["px_std"], dtype="Float64"),
                }
            )

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=FRAME_STATS_SCHEMA
    )


def synthesize_avi_mjpeg_payloads(
    ids: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL AVI/MJPEG videos from an id column: each video
    has ``3 + id % 5`` constant-gray frames of value
    ``v(f) = 2 * ((3*id + 11*f) % 128)`` on a ``(16+id%9) x (16+id%7)``
    grid.  Constant JPEG frames round-trip bit-exactly (even values), so
    an SQL oracle predicts per-frame sums closed-form."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vldt_spark.functions.videocodec import encode_avi_mjpeg

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w = 16 + i % 9
                h = 16 + i % 7
                frames = [
                    np.full((h, w, 1), 2 * ((3 * i + 11 * f) % 128), np.uint8)
                    for f in range(3 + i % 5)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=10))
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype(str), "payload": payloads}
            )

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


HEADER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("parsed_width", T.IntegerType(), True),
        T.StructField("parsed_height", T.IntegerType(), True),
        T.StructField("parsed_duration_ms", T.LongType(), True),
    ]
)


def _parse_one_header(b: bytes | None):
    """REAL container-header parse, zero deps (numpy/int.from_bytes only):

      PNG  — 8-byte signature, IHDR width/height as big-endian u32 at
             byte offsets 16/20 (PNG spec §5.2/§11.2.2)
      JPEG — marker scan to SOF0/SOF1/SOF2; height/width big-endian u16
             at +5/+7 inside the frame header (ITU T.81 §B.2.2)
      WAV  — RIFF/WAVE 'fmt ' chunk byte_rate (LE u32) + 'data' chunk
             size → duration_ms = data_size * 1000 // byte_rate

    Returns (fmt, width, height, duration_ms) with Nones for anything
    unparseable — malformed payloads are a validation OUTCOME (header_ok
    false), never an executor crash."""
    if b is None or len(b) < 2:
        return (None, None, None, None)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if len(b) >= 24 and b[12:16] == b"IHDR":
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            return ("png", w, h, None)
        return ("png", None, None, None)
    if b[:2] == b"\xff\xd8":
        i = 2
        n = len(b)
        while i < n - 1:
            if b[i] != 0xFF:
                break
            j = i + 1
            while j < n and b[j] == 0xFF:
                j += 1  # 0xFF fill bytes before a marker are legal padding
                # (ITU T.81 §B.1.1.2) — skip them or a padded SOF misparses
            if j >= n:
                break
            marker = b[j]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                if j + 8 <= n:
                    h = int.from_bytes(b[j + 4 : j + 6], "big")
                    w = int.from_bytes(b[j + 6 : j + 8], "big")
                    return ("jpeg", w, h, None)
                break
            if marker == 0xD9:  # EOI
                break
            if 0xD0 <= marker <= 0xD8 or marker in (0x00, 0x01):  # standalone
                i = j + 1
                continue
            if j + 3 > n:
                break
            seglen = int.from_bytes(b[j + 1 : j + 3], "big")
            if seglen < 2:
                break
            i = j + 1 + seglen
        return ("jpeg", None, None, None)
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        i = 12
        n = len(b)
        byte_rate = None
        data_size = None
        while i + 8 <= n:
            cid = b[i : i + 4]
            csize = int.from_bytes(b[i + 4 : i + 8], "little")
            if cid == b"fmt " and i + 24 <= n:
                byte_rate = int.from_bytes(b[i + 16 : i + 20], "little")
            elif cid == b"data":
                # declared size, not bytes-present: a truncated payload
                # still reports the encoded duration (and a separate
                # size check can flag the truncation)
                data_size = csize
            if byte_rate is not None and data_size is not None:
                break
            i += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
        if byte_rate and data_size is not None:
            return ("wav", None, None, data_size * 1000 // byte_rate)
        return ("wav", None, None, None)
    return (None, None, None, None)


def parse_media_headers(
    media: DataFrame, *, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """Binary payloads → REAL parsed container metadata (fmt, width,
    height, duration) via mapInPandas — the non-stub core of the
    multimodal validation surface: parsed dims can be checked against the
    table's CLAIMED metadata columns, the multimodal analogue of the
    token-array equality invariant. Embarrassingly parallel, no shuffle;
    only (id, 5 small fields) leave the executor per row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, ds = [], [], [], []
            for b in pdf[payload_col]:
                fmt, w, h, d = _parse_one_header(
                    bytes(b) if b is not None else None
                )
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                ds.append(d)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype(str),
                    "fmt": pd.Series(fmts, dtype=object),
                    "parsed_width": pd.array(ws, dtype="Int32"),
                    "parsed_height": pd.array(hs, dtype="Int32"),
                    "parsed_duration_ms": pd.array(ds, dtype="Int64"),
                }
            )

    return media.select(
        F.col(id_col), F.col(payload_col)
    ).mapInPandas(run, schema=HEADER_SCHEMA)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("channel", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_sumsq", T.LongType(), True),
        T.StructField("px_mean", T.DoubleType(), True),
        T.StructField("px_std", T.DoubleType(), True),
    ]
)


def decode_image_stats(
    media: DataFrame, *, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL pixel decode (PNG or baseline JPEG, by signature) → one row
    per (image, channel) with exact integer pixel sums and float
    mean/std. This is the value-checkable core of the image surface: for
    a synthesized PNG (lossless) or a constant-block JPEG (DC-only DCT,
    bit-exact round trip) whose pixels are a closed-form function of the
    id, an SQL oracle predicts every output
    (`px_sum`/`px_sumsq` are exact BIGINTs; mean/std use the identical
    float64 expression `sqrt(s2/n - (s1/n)^2)` on both sides).
    Undecodable payloads emit a single row of NULL stats (channel NULL).
    Embarrassingly parallel, no shuffle; only (id, 8 small fields) per
    channel leave the executor — never pixels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in PIXEL_STATS_SCHEMA.fields}
            for mid, b in zip(pdf[id_col].astype(str), pdf[payload_col]):
                px = _decode_image_pixels(bytes(b) if b is not None else None)
                if px is None:
                    out["media_id"].append(mid)
                    for k in ("channel", "width", "height", "n_channels",
                              "px_sum", "px_sumsq", "px_mean", "px_std"):
                        out[k].append(None)
                    continue
                h, w, c = px.shape
                n = h * w
                px64 = px.astype(np.int64)
                for ch in range(c):
                    s1 = int(px64[:, :, ch].sum())
                    s2 = int((px64[:, :, ch] ** 2).sum())
                    mean = s1 / n
                    var = s2 / n - mean * mean
                    std = float(np.sqrt(max(var, 0.0)))
                    out["media_id"].append(mid)
                    out["channel"].append(ch)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_channels"].append(c)
                    out["px_sum"].append(s1)
                    out["px_sumsq"].append(s2)
                    out["px_mean"].append(round6(mean))
                    out["px_std"].append(round6(std))
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "channel": pd.array(out["channel"], dtype="Int32"),
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                    "n_channels": pd.array(out["n_channels"], dtype="Int32"),
                    "px_sum": pd.array(out["px_sum"], dtype="Int64"),
                    "px_sumsq": pd.array(out["px_sumsq"], dtype="Int64"),
                    "px_mean": pd.array(out["px_mean"], dtype="Float64"),
                    "px_std": pd.array(out["px_std"], dtype="Float64"),
                }
            )

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=PIXEL_STATS_SCHEMA
    )


def synthesize_png_pixel_payloads(
    ids: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL full PNGs from an id column (test/bench source —
    no external data): pixel value is the closed form
    ``(id + 29*x + 17*y + 54*ch) % 256`` over a ``(16+id%29) x (16+id%23)``
    grid, grayscale for even ids and RGB for odd ids, scanline filter type
    cycling ``y % 5`` so every PNG filter is exercised. An SQL oracle can
    predict the decoded per-channel sums exactly."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w = 16 + i % 29
                h = 16 + i % 23
                c = 1 if i % 2 == 0 else 3
                ys = 17 * np.arange(h, dtype=np.int64)[:, None, None]
                xs = 29 * np.arange(w, dtype=np.int64)[None, :, None]
                chs = 54 * np.arange(c, dtype=np.int64)[None, None, :]
                px = ((i + xs + ys + chs) % 256).astype(np.uint8)
                payloads.append(encode_png(px, cycle_filters=True))
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype(str), "payload": payloads}
            )

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


def synthesize_jpeg_pixel_payloads(
    ids: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL baseline JPEGs from an id column: constant
    color value ``v = 2 * ((7 * id) % 128)`` over a
    ``(16 + id%13) x (16 + id%11)`` grid — grayscale for even ids, RGB
    gray (v,v,v) for odd ids.  Constant blocks quantize to a DC-only
    spectrum whose round trip is BIT-EXACT for even v (gray maps to
    Y=v, Cb=Cr=128 exactly), so the SQL oracle predicts the decoded
    per-channel sums closed-form: sum = v*w*h, std = 0.  Non-8-multiple
    dims exercise MCU padding + crop."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vldt_spark.functions.jpegcodec import encode_jpeg

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w = 16 + i % 13
                h = 16 + i % 11
                c = 1 if i % 2 == 0 else 3
                v = 2 * ((7 * i) % 128)
                px = np.full((h, w, c), v, dtype=np.uint8)
                payloads.append(encode_jpeg(px, quality=50))
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype(str), "payload": payloads}
            )

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


PCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("s_sum", T.LongType(), True),
        T.StructField("s_sumsq", T.LongType(), True),
        T.StructField("s_mean", T.DoubleType(), True),
        T.StructField("s_std", T.DoubleType(), True),
    ]
)


def decode_audio_stats(
    media: DataFrame, *, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL WAV PCM sample decode → per-file sample statistics (exact
    integer sums + float mean/std, same two-sided expressions as
    ``decode_image_stats``). Non-WAV / non-PCM payloads emit NULL stats."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in PCM_STATS_SCHEMA.fields}
            for mid, b in zip(pdf[id_col].astype(str), pdf[payload_col]):
                dec = _decode_wav_samples(bytes(b) if b is not None else None)
                rows["media_id"].append(mid)
                if dec is None:
                    for k in ("sample_rate", "bits", "n_samples",
                              "s_sum", "s_sumsq", "s_mean", "s_std"):
                        rows[k].append(None)
                    continue
                samples, rate, bits = dec
                s64 = samples.astype(np.int64)
                n = len(s64)
                s1 = int(s64.sum())
                s2 = int((s64 ** 2).sum())
                rows["sample_rate"].append(rate)
                rows["bits"].append(bits)
                rows["n_samples"].append(n)
                rows["s_sum"].append(s1)
                rows["s_sumsq"].append(s2)
                if n:
                    mean = s1 / n
                    var = s2 / n - mean * mean
                    rows["s_mean"].append(round6(mean))
                    rows["s_std"].append(round6(float(np.sqrt(max(var, 0.0)))))
                else:
                    rows["s_mean"].append(None)
                    rows["s_std"].append(None)
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "sample_rate": pd.array(rows["sample_rate"], dtype="Int32"),
                    "bits": pd.array(rows["bits"], dtype="Int32"),
                    "n_samples": pd.array(rows["n_samples"], dtype="Int64"),
                    "s_sum": pd.array(rows["s_sum"], dtype="Int64"),
                    "s_sumsq": pd.array(rows["s_sumsq"], dtype="Int64"),
                    "s_mean": pd.array(rows["s_mean"], dtype="Float64"),
                    "s_std": pd.array(rows["s_std"], dtype="Float64"),
                }
            )

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=PCM_STATS_SCHEMA
    )


def synthesize_wav_pcm_payloads(
    ids: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL WAV files with actual 8-bit PCM data bytes
    (mono, 8 kHz): sample t is ``(id + 13*t) % 256`` over
    ``400 + id % 500`` samples — closed-form for the SQL oracle."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                n = 400 + i % 500
                data = ((i + 13 * np.arange(n, dtype=np.int64)) % 256).astype(
                    np.uint8
                ).tobytes()
                fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
                pad = b"\x00" if n & 1 else b""
                payloads.append(
                    b"RIFF"
                    + struct.pack("<I", 36 + n + len(pad))
                    + b"WAVE"
                    + fmt_chunk
                    + b"data"
                    + struct.pack("<I", n)
                    + data
                    + pad
                )
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype(str), "payload": payloads}
            )

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


def synthesize_header_payloads(
    ids: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL container headers from an id column (test/bench
    source — no external data): id % 3 picks png/jpeg/wav; dimensions and
    duration are exact functions of the id, so an oracle can predict what
    ``parse_media_headers`` must recover. Writer uses struct-pack-style
    byte composition; the parser reads with int.from_bytes — two
    independent code paths over the actual byte formats."""
    import struct

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w = 16 + i % 317
                h = 16 + i % 211
                dur_ms = 1000 + i % 4000
                kind = i % 3
                if kind == 0:  # PNG: signature + IHDR
                    b = (
                        b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", 13)
                        + b"IHDR"
                        + struct.pack(">II", w, h)
                        + bytes([8, 6, 0, 0, 0])
                        + b"\x00\x00\x00\x00"  # CRC placeholder
                    )
                elif kind == 1:  # JPEG: SOI + APP0 + SOF0 + EOI
                    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
                    sof0 = (
                        b"\xff\xc0"
                        + struct.pack(">H", 17)
                        + b"\x08"
                        + struct.pack(">HH", h, w)
                        + b"\x03"
                        + bytes(9)
                    )
                    b = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
                else:  # WAV: RIFF/WAVE + fmt + data (byte_rate 8000 -> ms exact)
                    byte_rate = 8000
                    data_size = dur_ms * byte_rate // 1000
                    fmt_chunk = b"fmt " + struct.pack(
                        "<IHHIIHH", 16, 1, 1, 8000, byte_rate, 1, 8
                    )
                    b = (
                        b"RIFF"
                        + struct.pack("<I", 36 + data_size)
                        + b"WAVE"
                        + fmt_chunk
                        + b"data"
                        + struct.pack("<I", data_size)
                        # payload bytes intentionally absent: parser must
                        # use the DECLARED size
                    )
                payloads.append(b)
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype(str), "payload": payloads}
            )

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


def synthetic_media(spark, n: int = 100, *, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (binary payloads derived
    from hashes — no external data)."""
    df = spark.range(n)
    payload = F.sha2(F.concat(F.lit(seed), F.col("id").cast("string")), 512).cast("binary")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), 3) + 1).cast("int"),
    )
    return df.select(
        F.format_string("media-%06d", F.col("id")).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.when(kind == "video", F.lit(5000).cast("long")).alias("duration_ms"),
    )
