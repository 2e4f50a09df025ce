"""Multimodal columns: images/audio as opaque ``binary`` + typed metadata.

Training-data pipelines carry media as binary columns next to text.  The
Spark-side plumbing here is real and tested — schemas, Arrow-batched
``mapInPandas`` decode/feature/resize/frame-sample operators, partition-size
hygiene (never collect binaries, bound Arrow batch sizes) — while the actual
codec step is pluggable:

* a **deterministic synthetic codec** (``IMG1``/``AUD1``/``VID1`` headers,
  raw payload) used by tests and fixtures,
* **dependency-free real codecs** for the uncompressed and zlib-only
  formats: PNG (8-bit gray/RGB/RGBA/palette — stdlib zlib inflate +
  scanline unfiltering incl. Paeth), uncompressed BMP (8-bit palette and
  24-bit BGR), binary PGM (P5) / PPM (P6) and RIFF/WAVE PCM-16 audio —
  parsed with ``zlib``/``struct``/``numpy`` only, and
* a clearly-marked hook that raises ``NotImplementedError`` for every other
  format (JPEG/GIF/webp, FLAC/MP3/AAC, AVI/MP4 video — codec-library
  territory); on a real cluster you plug Pillow/ffmpeg via
  ``register_decoder`` WITHOUT touching any Spark code, and registered
  decoders override the built-in pure-python PNG path.

The PNG writer :func:`encode_png` is also what the S7 plot sinks
(``plans/plots.py``) emit their figures with.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = "doc_id long, width int, height int, channels int, mean_luma double"
AUDIO_META_SCHEMA = "doc_id long, sample_rate int, n_samples int, duration_s double, rms double"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary"


# ---------------------------------------------------------------------------
# Synthetic codec (deterministic, dependency-free)
# ---------------------------------------------------------------------------

def encode_image(width: int, height: int, pixels: np.ndarray) -> bytes:
    """IMG1 | w | h | uint8 grayscale payload (row-major)."""
    return b"IMG1" + struct.pack("<II", width, height) + pixels.astype(np.uint8).tobytes()


def encode_audio(sample_rate: int, samples: np.ndarray) -> bytes:
    """AUD1 | sr | n | int16 PCM payload."""
    s = samples.astype(np.int16)
    return b"AUD1" + struct.pack("<II", sample_rate, len(s)) + s.tobytes()


def encode_video(width: int, height: int, frames: list[np.ndarray]) -> bytes:
    """VID1 | w | h | n_frames | concatenated grayscale frames."""
    head = b"VID1" + struct.pack("<III", width, height, len(frames))
    return head + b"".join(f.astype(np.uint8).tobytes() for f in frames)


# --- real formats (dependency-free parsers) --------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit BMP from a grayscale array (R=G=B)."""
    h, w = pixels.shape
    row_size = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    img_size = row_size * h
    header = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    px = pixels.astype(np.uint8)
    for y in range(h - 1, -1, -1):  # bottom-up
        row = np.repeat(px[y], 3).tobytes()  # BGR, gray ⇒ identical bytes
        rows.append(row + b"\x00" * (row_size - len(row)))
    return header + info + b"".join(rows)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6) from a grayscale array (R=G=B)."""
    h, w = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + np.repeat(
        pixels.astype(np.uint8).ravel(), 3
    ).tobytes()


def encode_wav(sample_rate: int, samples: np.ndarray) -> bytes:
    """Minimal RIFF/WAVE, PCM 16-bit mono."""
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _luma(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Deterministic integer Rec.601 luma."""
    return (
        (299 * r.astype(np.uint32) + 587 * g.astype(np.uint32) + 114 * b.astype(np.uint32))
        // 1000
    ).astype(np.uint8)


def _decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """Uncompressed BITMAPINFOHEADER BMP: 8-bit palette or 24-bit BGR."""
    off = struct.unpack("<I", data[10:14])[0]
    hdr_size, w, h = struct.unpack("<Iii", data[14:26])
    bpp, comp = struct.unpack("<HI", data[28:34])
    if hdr_size < 40 or comp != 0 or bpp not in (8, 24):
        raise NotImplementedError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    flip = h > 0  # positive height = bottom-up rows
    h = abs(h)
    row_size = (w * (bpp // 8) + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=off)
    rows = raw.reshape(h, row_size)
    if bpp == 8:
        pal_off = 14 + hdr_size
        # biClrUsed (header bytes 46:50): 0 means "full 2^bpp palette"
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal = np.zeros((256, 4), dtype=np.uint8)
        pal[:n_colors] = np.frombuffer(
            data, dtype=np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(n_colors, 4)
        idx = rows[:, :w]
        px = _luma(pal[idx, 2], pal[idx, 1], pal[idx, 0])
    else:
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        px = _luma(bgr[:, :, 2], bgr[:, :, 1], bgr[:, :, 0])
    return w, h, px[::-1].copy() if flip else px


def _decode_pnm(data: bytes) -> tuple[int, int, np.ndarray]:
    """Binary PGM (P5, grayscale) / PPM (P6, RGB) with comment support."""
    magic = data[:2]
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    if magic == b"P5":
        px = np.frombuffer(data, dtype=np.uint8, count=w * h, offset=pos).reshape(h, w)
        return w, h, px.copy()
    rgb = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(h, w, 3)
    return w, h, _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal PNG writer (8-bit, non-interlaced, filter-0 rows, one zlib
    IDAT): 2-D input → grayscale, 3-D input → gray+alpha / RGB / RGBA by
    channel count.  Fixture counterpart of :func:`_decode_png`; stdlib only.
    """
    import zlib

    if pixels.ndim == 2:
        h, w = pixels.shape
        nch, color_type = 1, 0
    else:
        h, w, nch = pixels.shape
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    raw = pixels.astype(np.uint8).reshape(h, w * nch)
    stream = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(stream))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(stream: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters (types 0-4).  None/Up/Sub vectorize
    (Sub is a per-lane cumulative sum); Average/Paeth carry an intra-row
    byte dependency, so those rows fall back to a Python loop — fine for
    metadata/feature extraction, plug Pillow via ``register_decoder`` when
    image throughput matters."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = stream[pos]
        pos += 1
        row = np.frombuffer(stream, np.uint8, stride, pos).copy()
        pos += stride
        if ft == 0:
            pass
        elif ft == 1:  # Sub: cumulative sum within each bpp lane (mod 256)
            n_lanes_rows = stride // bpp
            lanes = row[: n_lanes_rows * bpp].reshape(n_lanes_rows, bpp)
            row[: n_lanes_rows * bpp] = (
                np.cumsum(lanes.astype(np.int64), axis=0) & 0xFF
            ).astype(np.uint8).ravel()
        elif ft == 2:  # Up: uint8 addition wraps mod 256 by itself
            row += prev
        elif ft == 3:  # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (int(row[i]) + pr) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ft}")
        out[y] = row
        prev = row
    return out


def _decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """Pure-stdlib PNG decoder: 8-bit depth, non-interlaced; color types
    0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA).  zlib inflate
    + scanline unfiltering; RGB collapses to Rec.601 luma like the other
    image decoders, alpha is dropped.  Adam7 interlace and 1/2/4/16-bit
    depths raise ``NotImplementedError`` (rare in crawl data; plug Pillow
    for full coverage)."""
    import zlib

    if data[:8] != PNG_SIG:
        raise NotImplementedError("not a PNG")
    pos, idat, plte, ihdr = 8, [], None, None
    while pos + 8 <= len(data):
        ln = struct.unpack(">I", data[pos : pos + 4])[0]
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or interlace != 0 or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"PNG depth={depth}/interlace={interlace} unsupported "
            "(8-bit non-interlaced only)"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise NotImplementedError(f"PNG color type {ctype}")
    stream = zlib.decompress(b"".join(idat))
    stride = w * nch
    px = _png_unfilter(stream, h, stride, nch).reshape(h, w, nch)
    if ctype in (0, 4):  # gray / gray+alpha
        return w, h, px[:, :, 0].copy()
    if ctype == 3:
        if plte is None:
            raise NotImplementedError("palette PNG missing PLTE")
        rgb = plte[px[:, :, 0]]
        return w, h, _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    return w, h, _luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])


def _decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE chunk walk; PCM (format 1) 16-bit, stereo averaged to mono."""
    if data[8:12] != b"WAVE":
        raise NotImplementedError("not a WAVE file")
    pos, sr, n_ch, bits, pcm = 12, None, 1, 16, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, n_ch, sr = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt_code != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM-16 WAV supported (format={fmt_code}, bits={bits})"
                )
        elif cid == b"data":
            pcm = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sr is None or pcm is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    if n_ch > 1:
        pcm = pcm[: len(pcm) - len(pcm) % n_ch].reshape(-1, n_ch)
        pcm = pcm.mean(axis=1).astype(np.int16)
    return sr, pcm


# ---------------------------------------------------------------------------
# Real-codec plug point
# ---------------------------------------------------------------------------
# Compressed-format codecs (JPEG/GIF via Pillow, FLAC/MP3 via soundfile,
# AVI/MP4 via ffmpeg) are not built in.  They drop in WITHOUT touching
# any Spark code through this registry: a decoder takes the raw bytes and
# returns the decoded tuple, or None to decline the format.  The Spark
# operators capture the registered decoders into their UDF closures at plan
# construction (cloudpickle ships them by value), so registration on the
# driver reaches every executor.

_EXTRA_DECODERS: dict[str, list] = {"image": [], "audio": [], "video": []}


def register_decoder(kind: str, fn) -> None:
    """Register a real codec: ``kind`` in {image, audio, video}; ``fn(data)``
    returns the same tuple as ``decode_*_bytes`` or None to decline."""
    _EXTRA_DECODERS[kind].append(fn)


def clear_decoders(kind: str | None = None) -> None:
    for k in [kind] if kind else list(_EXTRA_DECODERS):
        _EXTRA_DECODERS[k].clear()


def decode_image_bytes(data: bytes, extra=()) -> tuple[int, int, np.ndarray]:
    if data[:4] == b"IMG1":
        w, h = struct.unpack("<II", data[4:12])
        px = np.frombuffer(data[12 : 12 + w * h], dtype=np.uint8).reshape(h, w)
        return w, h, px
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] in (b"P5", b"P6"):
        return _decode_pnm(data)
    # registered codecs OVERRIDE the built-in PNG decoder: plugging Pillow in
    # replaces the correctness-first pure-python path
    for dec in extra or _EXTRA_DECODERS["image"]:
        out = dec(data)
        if out is not None:
            return out
    if data[:8] == PNG_SIG:
        return _decode_png(data)
    raise NotImplementedError(
        "unrecognized image format; register a codec via "
        "multimodal.register_decoder('image', fn)"
    )


def decode_audio_bytes(data: bytes, extra=()) -> tuple[int, np.ndarray]:
    if data[:4] == b"AUD1":
        sr, n = struct.unpack("<II", data[4:12])
        pcm = np.frombuffer(data[12 : 12 + 2 * n], dtype=np.int16)
        return sr, pcm
    if data[:4] == b"RIFF":
        return _decode_wav(data)
    for dec in extra or _EXTRA_DECODERS["audio"]:
        out = dec(data)
        if out is not None:
            return out
    raise NotImplementedError(
        "compressed audio codecs (FLAC/MP3/AAC) are not built in; "
        "register one via multimodal.register_decoder('audio', fn)"
    )


def decode_video_bytes(data: bytes, extra=()) -> tuple[int, int, list[np.ndarray]]:
    if data[:4] == b"VID1":
        w, h, n = struct.unpack("<III", data[4:16])
        frames = []
        off = 16
        for _ in range(n):
            frames.append(np.frombuffer(data[off : off + w * h], dtype=np.uint8).reshape(h, w))
            off += w * h
        return w, h, frames
    # compressed containers (AVI/MP4) are registered codecs' territory
    for dec in extra or _EXTRA_DECODERS["video"]:
        out = dec(data)
        if out is not None:
            return out
    raise NotImplementedError(
        "unrecognized video container; register a codec via "
        "multimodal.register_decoder('video', fn)"
    )


# ---------------------------------------------------------------------------
# Spark operators (mapInPandas — binary stays executor-side, Arrow-batched)
# ---------------------------------------------------------------------------

def image_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "image") -> DataFrame:
    """Decode + feature-extract per image: (id, width, height, channels, mean_luma)."""
    extra = tuple(_EXTRA_DECODERS["image"])  # shipped by value in the closure

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, data in zip(pdf[id_col], pdf[bin_col]):
                w, h, px = decode_image_bytes(bytes(data), extra)
                out.append((rid, w, h, 1, float(px.mean())))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "channels", "mean_luma"]
            )

    return df.select(id_col, bin_col).mapInPandas(run, IMAGE_META_SCHEMA)


def image_resize(
    df: DataFrame, out_w: int, out_h: int, id_col: str = "doc_id", bin_col: str = "image"
) -> DataFrame:
    """Nearest-neighbor resize, re-encoded to the synthetic format."""
    extra = tuple(_EXTRA_DECODERS["image"])

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for rid, data in zip(pdf[id_col], pdf[bin_col]):
                w, h, px = decode_image_bytes(bytes(data), extra)
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                small = px[np.ix_(yi, xi)]
                ids.append(rid)
                blobs.append(encode_image(out_w, out_h, small))
            yield pd.DataFrame({"doc_id": ids, "image": blobs})

    return df.select(id_col, bin_col).mapInPandas(run, f"doc_id long, {bin_col} binary")


def audio_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "audio") -> DataFrame:
    extra = tuple(_EXTRA_DECODERS["audio"])

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, data in zip(pdf[id_col], pdf[bin_col]):
                sr, pcm = decode_audio_bytes(bytes(data), extra)
                rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) if len(pcm) else 0.0
                out.append((rid, sr, len(pcm), len(pcm) / sr if sr else 0.0, rms))
            yield pd.DataFrame(
                out, columns=["doc_id", "sample_rate", "n_samples", "duration_s", "rms"]
            )

    return df.select(id_col, bin_col).mapInPandas(run, AUDIO_META_SCHEMA)


SPECTRAL_SCHEMA = (
    "doc_id long, dominant_hz double, spectral_centroid_hz double, "
    "spectral_rolloff_hz double, zero_crossing_rate double"
)


def audio_spectral_features(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "audio",
    frame: int = 512,
    hop: int = 256,
) -> DataFrame:
    """Spectral descriptors per audio doc — numpy FFT, Arrow-batched.

    Hann-windowed frames → magnitude spectra averaged over the clip, then
    dominant frequency (argmax bin), spectral centroid, 85% rolloff, and
    zero-crossing rate.  All deterministic functions of the PCM, so any
    partitioning yields identical rows; per-task memory is one clip's
    frame matrix (bounded by clip length, the same bound as decode)."""
    extra = tuple(_EXTRA_DECODERS["audio"])

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        win = np.hanning(frame)
        for pdf in batches:
            out = []
            for rid, data in zip(pdf[id_col], pdf[bin_col]):
                sr, pcm = decode_audio_bytes(bytes(data), extra)
                x = pcm.astype(np.float64)
                if len(x) < frame or sr == 0:
                    out.append((rid, 0.0, 0.0, 0.0, 0.0))
                    continue
                n_frames = 1 + (len(x) - frame) // hop
                idx = (
                    np.arange(frame)[None, :]
                    + hop * np.arange(n_frames)[:, None]
                )
                mag = np.abs(np.fft.rfft(x[idx] * win, axis=1)).mean(axis=0)
                freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
                total = mag.sum()
                if total <= 0:
                    out.append((rid, 0.0, 0.0, 0.0, 0.0))
                    continue
                dominant = float(freqs[int(np.argmax(mag))])
                centroid = float((freqs * mag).sum() / total)
                cum = np.cumsum(mag)
                rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * total))])
                zcr = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
                out.append((rid, dominant, centroid, rolloff, zcr))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "dominant_hz", "spectral_centroid_hz",
                    "spectral_rolloff_hz", "zero_crossing_rate",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(run, SPECTRAL_SCHEMA)


def video_frame_sample(
    df: DataFrame, every_n: int = 2, id_col: str = "doc_id", bin_col: str = "video"
) -> DataFrame:
    """Sample every n-th frame → one row per (doc, frame), frame re-encoded."""
    extra = tuple(_EXTRA_DECODERS["video"])

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for rid, data in zip(pdf[id_col], pdf[bin_col]):
                w, h, frames = decode_video_bytes(bytes(data), extra)
                for i in range(0, len(frames), every_n):
                    ids.append(rid)
                    idxs.append(i)
                    blobs.append(encode_image(w, h, frames[i]))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": blobs})

    return df.select(id_col, bin_col).mapInPandas(
        run, "doc_id long, frame_idx int, frame binary"
    )
