"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
exactly how the reference treats its packed peak blobs (base64 →
``MzXMLTags.scala:297-327``): payload stays opaque until a vectorized kernel
decodes it. The Spark-side plumbing is real and tested — schema, Arrow batch
shape over ``mapInPandas``, partition-preserving projection — and so are
FOUR codecs: binary PNM images (PGM/PPM, ``decode_pnm``), PNG
(``decode_png``: zlib inflate + all five scanline unfilters, CRC-checked),
RIFF/WAVE PCM audio (``decode_wav``) and raw-DIB RIFF/AVI video
(``decode_avi``) decode in pure numpy, no imaging/audio/video library
required. One table, ``DECODERS``, maps each media type to its codec for
``featurize``, ``frame_sample`` and ``resize_images``; ``channel_means``
is their one feature and ``_fixture_media`` the one fixture builder.
``decode_stub=True`` computes a deterministic fake feature from the raw
bytes (any media type); ``decode_stub=False`` really decodes the four and
raises ``NotImplementedError`` for media types whose codecs (ffmpeg-class)
this container lacks.

At 100 TB: payload columns dominate scan bytes, so every query that does not
need them must project them out *before* any shuffle (column pruning does
this for parquet scans; after a join, select early). ``featurize`` is
``mapInPandas`` so payload bytes never round-trip through the driver and
each Arrow batch bounds executor memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.IntegerType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def documents_as_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a media-shaped table from documents: utf-8 payload + metadata.

    Stands in for an image/audio table at test scale; the column shapes
    (binary payload, metadata struct) are the real contract."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.pmod(F.col("doc_id"), F.lit(640)).cast("int").alias("width"),
            F.pmod(F.col("doc_id"), F.lit(480)).cast("int").alias("height"),
        ).alias("meta"),
    )


def _fake_feature(buf: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector: per-chunk
    byte means. Replace with the real decode (pillow/librosa) on a cluster."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if len(arr) == 0:
        return [0.0] * dim
    chunks = np.array_split(arr.astype(np.float64), dim)
    return [round(float(c.mean()) if len(c) else 0.0, 6) for c in chunks]


def channel_means(samples: np.ndarray, dim: int | None = None) -> list[float]:
    """Mean over every axis but the last (the channel), rounded to 6 places;
    zero-padded (or cut) to ``dim`` values when ``dim`` is given."""
    means = [
        round(float(samples[..., c].mean()), 6) for c in range(samples.shape[-1])
    ]
    return means if dim is None else (means + [0.0] * dim)[:dim]


def _fixture_media(
    df: DataFrame, n: int, media_type: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """``(doc_id, media_type, payload = encode(doc_id))`` for ``doc_id < n``,
    built executor-side in ``mapInPandas``."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [media_type] * len(payloads),
                    "payload": payloads,
                }
            )

    return (
        df.select("doc_id")
        .filter(F.col("doc_id") < n)
        .mapInPandas(build, "doc_id long, media_type string, payload binary")
    )


def decode_pnm(buf: bytes) -> tuple[np.ndarray, int, int]:
    """REAL image decode for the binary PNM family — no imaging library
    needed: P5 (PGM, 1 channel) and P6 (PPM, 3 channels) are a plain-text
    header (magic, width, height, maxval; ``#`` comments allowed) followed by
    raw big-endian samples (1 byte/sample for maxval < 256, else 2).

    Returns ``(pixels, width, height)`` with pixels shaped (height, width,
    channels) as float64 in [0, maxval].
    """
    if len(buf) < 2 or buf[0:1] != b"P" or buf[1:2] not in (b"5", b"6"):
        raise ValueError("not a binary PGM/PPM payload")
    channels = 3 if buf[1:2] == b"6" else 1

    # header tokenizer: whitespace-separated ints, '#' comments to EOL
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(buf):
            raise ValueError("truncated PNM header")
        c = buf[pos : pos + 1]
        if c == b"#":
            while pos < len(buf) and buf[pos : pos + 1] not in (b"\n", b"\r"):
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(buf) and not buf[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(buf[start:pos]))
    pos += 1  # exactly ONE whitespace byte separates maxval from raster
    width, height, maxval = tokens
    dt = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    n = width * height * channels
    raster = buf[pos : pos + n * dt.itemsize]
    if len(raster) != n * dt.itemsize:
        raise ValueError("truncated PNM raster")
    px = np.frombuffer(raster, dtype=dt).astype(np.float64)
    return px.reshape(height, width, channels), width, height


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode for RIFF/WAVE PCM — no audio library needed: a
    RIFF container (``'RIFF' <u4 size> 'WAVE'``) holding ``<id><u4 size>``
    chunks (odd-sized chunks pad one byte); the ``fmt `` chunk gives
    format/channels/rate/bit-depth, the ``data`` chunk holds interleaved
    little-endian frames. Supports the two canonical PCM sample types:
    unsigned 8-bit (centered by -128) and signed 16-bit.

    Returns ``(samples, sample_rate)`` with samples shaped
    (n_frames, n_channels) as float64 in native PCM units.
    """
    if len(buf) < 12 or buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"non-PCM WAVE format {audio_format}")
    if bits == 8:
        samples = np.frombuffer(data, dtype="u1").astype(np.float64) - 128.0
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    if n_channels < 1 or len(samples) % n_channels:
        raise ValueError("sample count does not divide into channels")
    return samples.reshape(-1, n_channels), sample_rate


# --- PNM fixture generator (q31b): real-codec output, SQL-predictable -----
PNM_FIX_W, PNM_FIX_H = 16, 8  # 3-channel P6 → 384 samples/payload
PNM_FIX_N = 64                # fixture rows (doc_id < N)


def pnm_fixture_media(df: DataFrame, n: int = PNM_FIX_N) -> DataFrame:
    """Deterministic binary P6 (PPM) payloads whose pixels are the pure
    arithmetic function ``(doc_id*31 + s*7) % 256`` of the flat sample index
    ``s`` — so the REAL ``decode_pnm`` path's per-channel means are exactly
    predictable by a SQL oracle (q31b) with no image library on either side.

    Construction runs in ``mapInPandas`` (payload bytes never touch the
    driver), the same Arrow-batched plumbing the real ingest would use; only
    ``doc_id`` rides in from the scan."""
    w, h = PNM_FIX_W, PNM_FIX_H
    header = f"P6\n{w} {h}\n255\n".encode()
    s = np.arange(w * h * 3, dtype=np.int64)
    return _fixture_media(
        df, n, "image/ppm",
        lambda d: header + ((d * 31 + s * 7) % 256).astype(np.uint8).tobytes(),
    )


# --- WAV fixture generator (q70): real-codec output, SQL-predictable ------
WAV_FIX_FRAMES = 128  # frames per payload
WAV_FIX_CH = 2        # stereo → 256 interleaved samples
WAV_FIX_RATE = 8000
WAV_FIX_N = 64        # fixture rows (doc_id < N)


def _wav_header(n_samples: int, n_channels: int, rate: int) -> bytes:
    data_bytes = n_samples * 2  # 16-bit PCM
    block = n_channels * 2
    return (
        b"RIFF"
        + (36 + data_bytes).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + n_channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block).to_bytes(4, "little")  # byte rate
        + block.to_bytes(2, "little")           # block align
        + (16).to_bytes(2, "little")            # bits/sample
        + b"data"
        + data_bytes.to_bytes(4, "little")
    )


def wav_fixture_media(df: DataFrame, n: int = WAV_FIX_N) -> DataFrame:
    """Deterministic 16-bit stereo PCM payloads whose interleaved sample
    ``s`` of doc ``d`` is the pure arithmetic function
    ``((d*131 + s*17) % 65536) - 32768`` — so the REAL ``decode_wav``
    path's per-channel means (channel = s % 2) are exactly predictable by
    a SQL oracle (q70) with no audio library on either side. Same
    executor-side ``mapInPandas`` construction as ``pnm_fixture_media``."""
    n_samples = WAV_FIX_FRAMES * WAV_FIX_CH
    header = _wav_header(n_samples, WAV_FIX_CH, WAV_FIX_RATE)
    s = np.arange(n_samples, dtype=np.int64)
    return _fixture_media(df, n, "audio/wav", lambda d: header + (
        ((d * 131 + s * 17) % 65536) - 32768).astype("<i2").tobytes())


# --- PNG codec (round 5): zlib inflate + scanline unfilter, pure numpy ----
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per color type: 0 gray, 2 RGB, 3 palette index, 4 gray+A, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Average and Paeth run left to right, byte by byte, on Python ints: a numpy
# call per byte (or per pixel, across its bpp bytes) costs more than the
# arithmetic it does.
def _unfilter_average(filt: list, up: list, bpp: int) -> list:
    for x in range(bpp):
        filt[x] = (filt[x] + (up[x] >> 1)) & 255
    for x in range(bpp, len(filt)):
        filt[x] = (filt[x] + ((filt[x - bpp] + up[x]) >> 1)) & 255
    return filt


def _unfilter_paeth(filt: list, up: list, bpp: int) -> list:
    for x in range(bpp):  # left = up-left = 0: the predictor is up
        filt[x] = (filt[x] + up[x]) & 255
    for x in range(bpp, len(filt)):
        a, b, c = filt[x - bpp], up[x], up[x - bpp]
        # distances of p = a + b - c to a, b and c
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        filt[x] = (filt[x] + pred) & 255
    return filt


def decode_png(buf: bytes) -> tuple[np.ndarray, int, int]:
    """REAL image decode for PNG — no imaging library needed: the container
    is ``8-byte signature`` + ``<u4 len><4cc type><body><u4 crc>`` chunks;
    IHDR carries geometry, the concatenated IDAT bodies are one zlib stream
    of per-scanline ``<filter byte><filtered bytes>`` rows, and the five
    scanline filters (None/Sub/Up/Average/Paeth) invert sequentially against
    the prior row/pixel. Supports bit depths 8 and 16, color types
    0/2/3/4/6 (palette via PLTE), non-interlaced only (Adam7 raises — the
    fixture and every modern writer default to no interlace).

    Returns ``(pixels, width, height)`` with pixels shaped (height, width,
    channels) as float64 in native sample units ([0,255] or [0,65535]);
    palette images come back expanded to RGB.

    CRCs are verified per chunk — this decoder double-checks payload
    integrity the way the reference's zlib inflate implicitly does via its
    adler32 trailer (MzXMLTags.scala:284-295).
    """
    import zlib as _zlib

    if buf[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(buf):
        ln = int.from_bytes(buf[pos : pos + 4], "big")
        ctype = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(buf[pos + 8 + ln : pos + 12 + ln], "big")
        if _zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, color, _comp, _filt, interlace = ihdr[8:13]
    if interlace:
        raise ValueError("Adam7 interlaced PNG not supported")
    if depth not in (8, 16) or color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG depth/color {depth}/{color}")
    channels = _PNG_CHANNELS[color]
    bpp = channels * (depth // 8)          # filter stride, bytes
    stride = width * bpp                   # scanline payload, bytes
    raw = _zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT payload size mismatch")
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(height):
        row = raw[r * (stride + 1) : (r + 1) * (stride + 1)]
        f = row[0]
        filt = np.frombuffer(row[1:], dtype=np.uint8).astype(np.int64)
        if f == 0:
            recon = filt
        elif f == 1:  # Sub — per residue class mod bpp it's a running sum
            recon = filt.copy()
            for k in range(bpp):
                recon[k::bpp] = np.cumsum(recon[k::bpp]) % 256
        elif f == 2:  # Up
            recon = (filt + prev) % 256
        elif f == 3:  # Average — sequential in x
            recon = np.array(_unfilter_average(filt.tolist(), prev.tolist(), bpp))
        elif f == 4:  # Paeth — sequential in x
            recon = np.array(_unfilter_paeth(filt.tolist(), prev.tolist(), bpp))
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[r] = recon
        prev = recon
    flat = out.astype(np.uint8).tobytes()
    if depth == 16:
        px = np.frombuffer(flat, dtype=">u2").astype(np.float64)
    else:
        px = np.frombuffer(flat, dtype=np.uint8).astype(np.float64)
    px = px.reshape(height, width, channels)
    if color == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        px = plte[px[:, :, 0].astype(np.int64)].astype(np.float64)
    return px, width, height


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib as _zlib

    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (_zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def png_encode(raster: np.ndarray, width: int, height: int, channels: int = 3) -> bytes:
    """Minimal PNG writer (8-bit, gray/RGB/RGBA) for fixtures and tests.

    Row ``r`` is written with filter type ``r % 5`` so a decode exercises
    ALL FIVE unfilter paths — the encode direction of each filter is a
    direct (vectorized) difference, the decode direction is the sequential
    inverse in ``decode_png``."""
    import zlib as _zlib

    color = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, color, 0, 0, 0])
    )
    bpp = channels
    rows = raster.reshape(height, width * channels).astype(np.int64)
    prev = np.zeros(width * channels, dtype=np.int64)
    scan = bytearray()
    for r in range(height):
        cur = rows[r]
        f = r % 5
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        scan += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = cur
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )


# --- PNG fixture generator (q71): real-codec output, SQL-predictable ------
PNG_FIX_W, PNG_FIX_H = 16, 8  # RGB8 → 384 samples/payload
PNG_FIX_N = 64                # fixture rows (doc_id < N)


def png_fixture_media(df: DataFrame, n: int = PNG_FIX_N) -> DataFrame:
    """Deterministic RGB8 PNG payloads whose flat sample ``s`` of doc ``d``
    is the pure arithmetic function ``(d*31 + s*7) % 256`` — same value
    function as the PNM fixture, so the q71 SQL oracle predicts the REAL
    ``decode_png`` per-channel means with no image library on either side.
    Rows cycle through all five PNG filter types (``png_encode``), making
    the oracle match contingent on every unfilter path being correct.
    Payload bytes are built executor-side in ``mapInPandas``."""
    w, h = PNG_FIX_W, PNG_FIX_H
    s = np.arange(w * h * 3, dtype=np.int64)
    return _fixture_media(
        df, n, "image/png",
        lambda d: png_encode(((d * 31 + s * 7) % 256).astype(np.uint8), w, h, 3),
    )


# --- RIFF/AVI raw-frame video codec (round 5): pure numpy ------------------
# Container only — the honest subset of "video decode" this container can do
# without ffmpeg: uncompressed 24-bit DIB frames ('DIB ' fourcc,
# biCompression=0) inside the standard RIFF AVI chunk layout. Compressed
# streams raise NotImplementedError at the biCompression check, which is the
# real stub boundary. DIB raster rules are implemented faithfully (bottom-up
# rows, BGR sample order, 4-byte row stride padding), so decode is a genuine
# codec inverse, not a memcpy.
VID_FIX_W, VID_FIX_H = 6, 4   # 18-byte rows → stride 20: padding is exercised
VID_FIX_FRAMES = 10
VID_FIX_FPS = 5
VID_FIX_N = 48                # fixture rows (doc_id < N)


def _dib_stride(width: int) -> int:
    return (width * 3 + 3) // 4 * 4


def _dib_pack(frame: np.ndarray) -> bytes:
    """RGB raster (h, w, 3) → DIB bytes: bottom-up rows, BGR, padded stride."""
    h, w, _ = frame.shape
    stride = _dib_stride(w)
    out = np.zeros((h, stride), dtype=np.uint8)
    out[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
    return out.tobytes()


def _dib_unpack(
    data: bytes, width: int, height: int, top_down: bool = False
) -> np.ndarray:
    """DIB bytes → RGB raster (h, w, 3) float64 — inverse of ``_dib_pack``.

    ``top_down`` is the negative-``biHeight`` convention: rows are stored
    first-row-first, so the bottom-up flip is skipped."""
    stride = _dib_stride(width)
    if len(data) != stride * height:
        raise ValueError("DIB frame size does not match geometry")
    rows = np.frombuffer(data, dtype=np.uint8).reshape(height, stride)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    rgb = bgr if top_down else bgr[::-1]
    return rgb[:, :, ::-1].astype(np.float64)


def _riff_chunk(ckid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return ckid + len(body).to_bytes(4, "little") + body + pad


def avi_encode(frames: np.ndarray, fps: int = VID_FIX_FPS) -> bytes:
    """Minimal RIFF AVI writer (raw 24-bit DIB video stream) for fixtures
    and tests: RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    LIST('movi' '00db'×n))."""
    n, h, w, _ = frames.shape
    frame_bytes = _dib_stride(w) * h
    avih = b"".join(
        v.to_bytes(4, "little")
        for v in (
            1_000_000 // fps,      # dwMicroSecPerFrame
            frame_bytes * fps,     # dwMaxBytesPerSec
            0,                     # dwPaddingGranularity
            0x10,                  # dwFlags: AVIF_HASINDEX off, interleaved off
            n, 0, 1,               # dwTotalFrames, dwInitialFrames, dwStreams
            frame_bytes,           # dwSuggestedBufferSize
            w, h, 0, 0, 0, 0,      # dwWidth, dwHeight, dwReserved[4]
        )
    )
    strh = (
        b"vids"
        + b"DIB "
        + b"".join(
            v.to_bytes(4, "little")
            for v in (0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0)
            # flags, prio+lang, initFrames, scale, rate, start, length,
            # bufsize, quality, sampleSize
        )
        + b"\x00" * 8  # rcFrame
    )
    strf = (  # BITMAPINFOHEADER
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")      # biPlanes
        + (24).to_bytes(2, "little")     # biBitCount
        + (0).to_bytes(4, "little")      # biCompression = BI_RGB (raw)
        + frame_bytes.to_bytes(4, "little")
        + b"\x00" * 16                   # resolutions + palette counts
    )
    strl = b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    hdrl = b"hdrl" + _riff_chunk(b"avih", avih) + _riff_chunk(b"LIST", strl)
    movi = b"movi" + b"".join(
        _riff_chunk(b"00db", _dib_pack(frames[i].astype(np.uint8)))
        for i in range(n)
    )
    body = b"AVI " + _riff_chunk(b"LIST", hdrl) + _riff_chunk(b"LIST", movi)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _riff_walk(data: bytes, pos: int, end: int):
    """Yield (ckid, body_start, body_len) over a RIFF chunk run."""
    while pos + 8 <= end:
        ckid = data[pos : pos + 4]
        ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
        yield ckid, pos + 8, ln
        pos += 8 + ln + (ln % 2)


def decode_avi(buf: bytes) -> tuple[np.ndarray, int]:
    """REAL video-container decode for raw-DIB AVI — no ffmpeg needed.

    Walks the RIFF chunk tree, reads geometry from the BITMAPINFOHEADER
    (strf) and timing from the stream header (strh), and unpacks each
    '00db'/'00dc' movi chunk through the DIB raster inverse. Compressed
    streams (biCompression != 0 or biBitCount != 24) raise
    NotImplementedError — that codec genuinely needs ffmpeg-class
    libraries this container lacks.

    Returns ``(frames, fps)`` with frames shaped (n, height, width, 3)
    as float64 RGB in [0, 255].
    """
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI payload")
    strf = strh = None
    frame_chunks: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal strf, strh
        for ckid, body, ln in _riff_walk(buf, pos, end):
            if ckid == b"LIST":
                walk(body + 4, body + ln)  # skip the 4cc list type
            elif ckid == b"strf" and strf is None:
                strf = buf[body : body + ln]
            elif ckid == b"strh" and strh is None:
                strh = buf[body : body + ln]
            elif ckid[2:4] in (b"db", b"dc"):
                frame_chunks.append(buf[body : body + ln])

    walk(12, 8 + int.from_bytes(buf[4:8], "little"))
    if strf is None or len(strf) < 40:
        raise ValueError("AVI missing BITMAPINFOHEADER")
    width = int.from_bytes(strf[4:8], "little")
    height = int.from_bytes(strf[8:12], "little", signed=True)
    bitcount = int.from_bytes(strf[14:16], "little")
    compression = int.from_bytes(strf[16:20], "little")
    if compression != 0 or bitcount != 24:
        raise NotImplementedError(
            "compressed/non-24-bit AVI video needs an ffmpeg-class codec — "
            "not in this container (raw BI_RGB DIB streams decode here)"
        )
    fps = VID_FIX_FPS
    if strh is not None and len(strh) >= 28:
        scale = int.from_bytes(strh[20:24], "little")
        rate = int.from_bytes(strh[24:28], "little")
        if scale:
            fps = rate // scale
    frames = np.stack(
        [
            _dib_unpack(c, width, abs(height), top_down=height < 0)
            for c in frame_chunks
        ]
    )
    return frames, fps


def avi_fixture_media(df: DataFrame, n: int = VID_FIX_N) -> DataFrame:
    """Deterministic raw-DIB AVI payloads whose RGB sample ``s`` of frame
    ``f`` of doc ``d`` is the pure arithmetic function
    ``(d*31 + f*13 + s*7) % 256`` — so the REAL ``decode_avi`` +
    ``frame_sample`` path's per-frame per-channel means are exactly
    predictable by a SQL oracle (q75) with no video library on either
    side. Payload bytes are built executor-side in ``mapInPandas``."""
    w, h = VID_FIX_W, VID_FIX_H
    s = np.arange(w * h * 3, dtype=np.int64).reshape(h, w, 3)
    f = np.arange(VID_FIX_FRAMES, dtype=np.int64).reshape(-1, 1, 1, 1)
    return _fixture_media(
        df, n, "video/x-msvideo", lambda d: avi_encode((d * 31 + f * 13 + s * 7) % 256)
    )


# --- the one media-type → codec table ---------------------------------------
# Each decoder returns its samples with the channel on the last axis: images
# (h, w, c), audio (frames, c), video (n, h, w, c).
DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    **dict.fromkeys(
        ("image/ppm", "image/pgm", "image/x-portable-pixmap", "image/x-portable-graymap"),
        lambda b: decode_pnm(b)[0],
    ),
    "image/png": lambda b: decode_png(b)[0],
    **dict.fromkeys(("audio/wav", "audio/x-wav", "audio/wave"), lambda b: decode_wav(b)[0]),
    # raw-DIB AVI decodes here; compressed streams raise NotImplementedError
    # inside decode_avi
    **dict.fromkeys(("video/x-msvideo", "video/avi"), lambda b: decode_avi(b)[0]),
}


def decode(media_type: str, buf: bytes, kind: str | None = None) -> np.ndarray:
    """Decode ``buf`` with the ``DECODERS`` codec of ``media_type``. With a
    ``kind`` (``"image"``, ``"video"``), a payload of another top-level type
    raises ``ValueError`` naming its media type."""
    if kind is not None and media_type.split("/")[0] != kind:
        raise ValueError(f"media type {media_type!r} is not {kind}/*")
    if media_type not in DECODERS:
        raise NotImplementedError(
            f"real decode for {media_type} needs a codec library "
            "(e.g. ffmpeg for compressed video/containerized "
            "audio) — not in this container"
        )
    return DECODERS[media_type](buf)


def featurize(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode / feature-extract payloads via ``mapInPandas``.

    Arrow-batched: each partition streams through pandas in bounded batches;
    payload bytes stay executor-side. The stub path is deterministic so tests
    and oracles can assert on it."""

    def feature(mt: str, b: bytes) -> list[float]:
        return _fake_feature(b) if decode_stub else channel_means(decode(mt, b), 4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [
                        len(b) if b is not None else 0 for b in pdf["payload"]
                    ],
                    "feature": [
                        None if b is None else feature(mt, b)
                        for mt, b in zip(pdf["media_type"], pdf["payload"])
                    ],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, width int, height int, "
    "feature array<double>"
)


def frame_sample(media: DataFrame, every_k: int = 3) -> DataFrame:
    """Sample every ``k``-th frame from video payloads and feature-extract
    each sampled frame (per-channel means) — one output row per (doc,
    sampled frame). The standard pre-training frame-sampling shape: decode
    stays executor-side in ``mapInPandas`` (Arrow-batched), only small
    per-frame features leave the worker, so the plan scales with the
    payload bytes never shuffling."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "n_frames", "width", "height", "feature"
            )}
            for d, mt, b in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                if b is None:
                    continue
                frames = decode(mt, b, kind="video")
                n, h, w, _ = frames.shape
                for f in range(0, n, every_k):
                    rows["doc_id"].append(d)
                    rows["frame_idx"].append(f)
                    rows["n_frames"].append(n)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["feature"].append(channel_means(frames[f]))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


# --- image resize (round 5): box-average / nearest, pure numpy --------------
def resize_raster(
    px: np.ndarray, out_w: int, out_h: int, method: str = "box"
) -> np.ndarray:
    """Resize a decoded raster (h, w, c).

    ``box``: exact block average — requires integer downscale factors, the
    thumbnail/patch-pooling path whose output is analytically predictable
    (each output pixel is the mean of its source block). ``nearest``:
    arbitrary geometry via floor index mapping."""
    h, w, c = px.shape
    if method == "box":
        if h % out_h or w % out_w:
            raise ValueError("box resize needs integer downscale factors")
        fy, fx = h // out_h, w // out_w
        return px.reshape(out_h, fy, out_w, fx, c).mean(axis=(1, 3))
    if method == "nearest":
        yi = (np.arange(out_h) * h) // out_h
        xi = (np.arange(out_w) * w) // out_w
        return px[yi][:, xi]
    raise ValueError(f"unknown resize method {method!r}")


RESIZE_SCHEMA = (
    "doc_id long, media_type string, width int, height int, "
    "ch_mean array<double>, ch_wsum array<double>"
)


def resize_images(
    media: DataFrame, out_w: int, out_h: int, method: str = "box"
) -> DataFrame:
    """Decode image payloads (the ``image/*`` codecs of ``DECODERS``; any
    other media type raises ``ValueError``), resize to (out_w, out_h), and
    emit per-channel stats of the RESIZED raster: plain means plus
    position-weighted sums (weight = flat output index + 1), which pin the
    output geometry — a transposed, flipped, or mis-strided resize changes
    ``ch_wsum`` even when ``ch_mean`` is invariant. Same executor-side
    ``mapInPandas`` shape as ``featurize``."""
    weights = np.arange(1, out_h * out_w + 1, dtype=np.float64).reshape(
        out_h, out_w
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "media_type", "width", "height", "ch_mean", "ch_wsum"
            )}
            for d, mt, b in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                if b is None:
                    continue
                rz = resize_raster(decode(mt, b, kind="image"), out_w, out_h, method)
                rows["doc_id"].append(d)
                rows["media_type"].append(mt)
                rows["width"].append(out_w)
                rows["height"].append(out_h)
                rows["ch_mean"].append(channel_means(rz))
                rows["ch_wsum"].append(
                    [round(float((rz[:, :, c] * weights).sum()), 6)
                     for c in range(rz.shape[2])]
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, RESIZE_SCHEMA)
