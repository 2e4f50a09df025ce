"""Multimodal binary-column plumbing + resumable stage checkpoints."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators import multimodal as MM
from entity_resolution_spark.plans.checkpoint import StageCheckpointer, resolve_checkpointed
from entity_resolution_spark.sources.synthetic import make_pages


def _image_df(spark, n=6):
    rng = np.random.default_rng(42)
    rows = []
    for i in range(n):
        px = rng.integers(0, 256, size=(8, 10), dtype=np.uint8)
        rows.append((i, bytearray(MM.encode_image(10, 8, px))))
    return spark.createDataFrame(rows, "doc_id long, image binary"), rows


def test_image_features_and_resize(spark):
    df, rows = _image_df(spark)
    feats = {r["doc_id"]: r for r in MM.image_features(df).collect()}
    assert len(feats) == 6
    for r in feats.values():
        assert (r["width"], r["height"], r["channels"]) == (10, 8, 1)
        assert 0 <= r["mean_luma"] <= 255
    small = MM.image_resize(df, 5, 4).collect()
    w, h, px = MM.decode_image_bytes(bytes(small[0]["image"]))
    assert (w, h) == (5, 4) and px.shape == (4, 5)


def test_audio_features(spark):
    sr = 16000
    t = np.arange(sr)
    wave = (np.sin(2 * np.pi * 440 * t / sr) * 10000).astype(np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(MM.encode_audio(sr, wave)))], "doc_id long, audio binary"
    )
    r = MM.audio_features(df).collect()[0]
    assert r["sample_rate"] == sr and r["n_samples"] == sr
    assert abs(r["duration_s"] - 1.0) < 1e-9
    assert abs(r["rms"] - 10000 / np.sqrt(2)) / (10000 / np.sqrt(2)) < 0.01


def test_video_frame_sample(spark):
    frames = [np.full((4, 4), i, dtype=np.uint8) for i in range(6)]
    df = spark.createDataFrame(
        [(7, bytearray(MM.encode_video(4, 4, frames)))], "doc_id long, video binary"
    )
    got = MM.video_frame_sample(df, every_n=2).collect()
    assert sorted(r["frame_idx"] for r in got) == [0, 2, 4]
    _, _, px = MM.decode_image_bytes(bytes(sorted(got, key=lambda r: r["frame_idx"])[1]["frame"]))
    assert px[0, 0] == 2


def test_real_codec_hook_raises(spark):
    # a truncated PNG now reaches the real decoder and fails there
    with pytest.raises(NotImplementedError, match="IHDR"):
        MM.decode_image_bytes(b"\x89PNG\r\n\x1a\n....")
    # a truncated GIF reaches the real GIF decoder (magic matches)
    with pytest.raises(NotImplementedError, match="GIF"):
        MM.decode_image_bytes(b"GIF89a......")
    # a genuinely unknown format falls through to the plug-point error
    with pytest.raises(NotImplementedError, match="register"):
        MM.decode_image_bytes(b"II*\x00 not a real tiff")


def test_bmp_round_trip_through_spark(spark):
    """Real-format path: 24-bit uncompressed BMP through image_features +
    image_resize (gray ⇒ luma == original pixels exactly)."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(6, 9), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(MM.encode_bmp(px)))], "doc_id long, image binary"
    )
    r = MM.image_features(df).collect()[0]
    assert (r["width"], r["height"]) == (9, 6)
    assert abs(r["mean_luma"] - float(px.mean())) < 1e-9
    small = MM.image_resize(df, 3, 2).collect()
    w, h, spx = MM.decode_image_bytes(bytes(small[0]["image"]))
    assert (w, h) == (3, 2)
    # direct decode matches the source array bit-for-bit
    w2, h2, px2 = MM.decode_image_bytes(MM.encode_bmp(px))
    assert (w2, h2) == (9, 6) and np.array_equal(px2, px)


def test_bmp_8bit_palette_decode():
    """8-bit palette BMP built by hand: identity gray palette."""
    import struct

    h, w = 3, 5
    row_size = (w + 3) & ~3
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    off = 14 + 40 + len(pal)
    img = b""
    px = np.arange(h * w, dtype=np.uint8).reshape(h, w) * 10
    for y in range(h - 1, -1, -1):
        row = px[y].tobytes()
        img += row + b"\x00" * (row_size - len(row))
    data = (
        b"BM" + struct.pack("<IHHI", off + len(img), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(img), 0, 0, 256, 0)
        + pal + img
    )
    w2, h2, got = MM.decode_image_bytes(data)
    assert (w2, h2) == (w, h) and np.array_equal(got, px)


def test_ppm_pgm_decode():
    px = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    w, h, got = MM.decode_image_bytes(MM.encode_ppm(px))
    assert (w, h) == (4, 3) and np.array_equal(got, px)
    pgm = b"P5\n# a comment\n4 3\n255\n" + px.tobytes()
    w, h, got = MM.decode_image_bytes(pgm)
    assert (w, h) == (4, 3) and np.array_equal(got, px)


def test_wav_through_spark(spark):
    """Real-format path: RIFF/WAVE PCM-16 through audio_features."""
    sr = 8000
    t = np.arange(sr // 2)
    wave = (np.sin(2 * np.pi * 440 * t / sr) * 12000).astype(np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(MM.encode_wav(sr, wave)))], "doc_id long, audio binary"
    )
    r = MM.audio_features(df).collect()[0]
    assert r["sample_rate"] == sr and r["n_samples"] == len(wave)
    assert abs(r["duration_s"] - 0.5) < 1e-9
    expected_rms = float(np.sqrt(np.mean(wave.astype(np.float64) ** 2)))
    assert abs(r["rms"] - expected_rms) < 1e-9
    # stereo → mono averaging
    stereo = np.column_stack([wave, np.zeros_like(wave)]).ravel()
    fmt = MM.encode_wav(sr, stereo)
    # patch channel count to 2 (encode_wav writes mono)
    fmt = fmt[:22] + b"\x02\x00" + fmt[24:]
    sr2, mono = MM.decode_audio_bytes(fmt)
    assert sr2 == sr and len(mono) == len(wave)
    assert np.abs(mono.astype(np.int32) - wave.astype(np.int32) / 2).max() <= 1


def test_checkpoint_resume(spark, tmp_path):
    corpus = make_pages(n_entities=25)
    pages = spark.createDataFrame(corpus.pages)
    ckpt = StageCheckpointer(spark, str(tmp_path), "run1")
    out1 = resolve_checkpointed(pages, ckpt).collect()
    assert ckpt.is_done("04_components")
    metrics = ckpt.metrics()
    assert {m["stage"] for m in metrics} == {
        "00_extract", "01_block", "02_edges", "03_pruned", "04_components",
    }
    assert all(m["rows"] > 0 for m in metrics[:3])
    lin = ckpt.lineage("01_block")
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == next(
        m["rows"] for m in metrics if m["stage"] == "01_block"
    )

    # resume: pass an EMPTY input — stages must come from the snapshots, so
    # the result is identical without recomputation
    empty = spark.createDataFrame([], pages.schema)
    out2 = resolve_checkpointed(empty, ckpt).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    # invalidate a mid stage: downstream snapshot still present -> final
    # output unchanged; the invalidated stage alone is rebuilt lazily
    ckpt.invalidate("03_pruned")
    assert not ckpt.is_done("03_pruned")
    out3 = resolve_checkpointed(pages, ckpt).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out3))


def test_checkpoint_resume_on_uri_base_dir(spark, tmp_path, monkeypatch):
    """A file:// URI base directory (the hdfs:// / s3a:// code path): the
    second run reads every stage back and rebuilds none, and nothing is
    written under the driver's working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    pages = spark.createDataFrame(make_pages(n_entities=10).pages)
    ckpt = StageCheckpointer(spark, (tmp_path / "ck").as_uri(), "run1")
    out1 = sorted(map(tuple, resolve_checkpointed(pages, ckpt).collect()))
    metrics = ckpt.metrics()
    assert [m["stage"] for m in metrics] == [
        "00_extract", "01_block", "02_edges", "03_pruned", "04_components",
    ]

    # an EMPTY input only reproduces out1 if no stage is rebuilt, and a
    # rebuilt stage would rewrite its metrics with rows=0
    empty = spark.createDataFrame([], pages.schema)
    out2 = sorted(map(tuple, resolve_checkpointed(empty, ckpt).collect()))
    assert out2 == out1
    assert ckpt.metrics() == metrics
    assert list(cwd.iterdir()) == []

    ckpt.invalidate("03_pruned")
    assert not ckpt.is_done("03_pruned") and ckpt.is_done("04_components")


def test_checkpoint_records_codegen_compiles(spark, tmp_path):
    """Every stage record counts the classes compiled for it; a second run
    of the same plan in one session reuses the cached classes."""
    pages = spark.createDataFrame(make_pages(n_entities=10).pages)
    totals = []
    for run_id in ("run1", "run2"):
        ckpt = StageCheckpointer(spark, str(tmp_path), run_id)
        resolve_checkpointed(pages, ckpt).collect()
        metrics = ckpt.metrics()
        assert len(metrics) == 5
        assert all(isinstance(m["codegen_compiles"], int) for m in metrics)
        totals.append(sum(m["codegen_compiles"] for m in metrics))
    assert totals[1] <= totals[0], totals


def test_bmp_8bit_partial_palette():
    """Spec-valid 8-bit BMP with biClrUsed=16 (64-byte palette)."""
    import struct

    h, w, n_colors = 2, 3, 16
    row_size = (w + 3) & ~3
    pal = b"".join(bytes([i * 16, i * 16, i * 16, 0]) for i in range(n_colors))
    off = 14 + 40 + len(pal)
    px = np.array([[0, 5, 15], [1, 2, 3]], dtype=np.uint8)
    img = b""
    for y in range(h - 1, -1, -1):
        row = px[y].tobytes()
        img += row + b"\x00" * (row_size - len(row))
    data = (
        b"BM" + struct.pack("<IHHI", off + len(img), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(img), 0, 0, n_colors, 0)
        + pal + img
    )
    w2, h2, got = MM.decode_image_bytes(data)
    assert (w2, h2) == (w, h) and np.array_equal(got, px * 16)


def test_registered_codec_flows_end_to_end(spark):
    """A 'real' codec registered via the plug point flows through the Spark
    operators unchanged — the decoder closure crosses to executor workers by
    value, proving e.g. a Pillow wrapper drops in without Spark-code edits."""
    # a fake compressed format: JPEG magic + raw 2x3 payload
    def fake_jpeg_decoder(data):
        if data[:2] != b"\xff\xd8":
            return None
        px = np.frombuffer(data[2:8], dtype=np.uint8).reshape(2, 3)
        return 3, 2, px

    def fake_mp3_decoder(data):
        if data[:3] != b"ID3":
            return None
        pcm = np.frombuffer(data[3:], dtype=np.int16)
        return 8000, pcm

    MM.register_decoder("image", fake_jpeg_decoder)
    MM.register_decoder("audio", fake_mp3_decoder)
    try:
        img = spark.createDataFrame(
            [(7, bytearray(b"\xff\xd8" + bytes(range(6))))],
            "doc_id long, image binary",
        )
        r = MM.image_features(img).collect()[0]
        assert (r["width"], r["height"]) == (3, 2)
        assert r["mean_luma"] == pytest.approx(np.arange(6).mean())
        # mixed batch: built-in format and plugged format decode side by side
        px = np.full((2, 3), 9, dtype=np.uint8)
        mixed = spark.createDataFrame(
            [(1, bytearray(MM.encode_image(3, 2, px))),
             (2, bytearray(b"\xff\xd8" + bytes(range(6))))],
            "doc_id long, image binary",
        )
        assert {x["doc_id"] for x in MM.image_features(mixed).collect()} == {1, 2}

        aud = spark.createDataFrame(
            [(9, bytearray(b"ID3" + np.array([100, -100], np.int16).tobytes()))],
            "doc_id long, audio binary",
        )
        a = MM.audio_features(aud).collect()[0]
        assert (a["sample_rate"], a["n_samples"]) == (8000, 2)
    finally:
        MM.clear_decoders()
    # with the registry cleared, the same bytes fall through to the REAL
    # baseline JPEG decoder (they carry its magic), which rejects them as
    # structurally invalid — the plug-point error is reserved for formats
    # no built-in decoder claims
    with pytest.raises(NotImplementedError, match="JPEG"):
        MM.decode_image_bytes(b"\xff\xd8" + bytes(range(6)))


# --- PNG (stdlib zlib + unfilter) -------------------------------------------

def _png_forward_filter(raw: np.ndarray, ftypes: list[int], bpp: int) -> bytes:
    """Apply PNG scanline filters forward (test-side): proves the decoder's
    unfilter inverts every filter type, not just the writer's filter 0."""
    h, stride = raw.shape
    assert len(ftypes) == h
    prev = np.zeros(stride, dtype=np.uint8)
    out = bytearray()
    for y in range(h):
        row, ft = raw[y].astype(int), ftypes[y]
        enc = np.zeros(stride, dtype=np.uint8)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (row[i] - pred) & 0xFF
        out += bytes([ft]) + enc.tobytes()
        prev = raw[y]
    return bytes(out)


def _png_from_stream(w, h, ctype, stream, plte=None):
    import struct
    import zlib

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    png = MM.PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    )
    if plte is not None:
        png += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return png + chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b"")


def test_png_gray_rgb_rgba_round_trip():
    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(9, 13), dtype=np.uint8)
    w, h, px = MM.decode_image_bytes(MM.encode_png(gray))
    assert (w, h) == (13, 9) and np.array_equal(px, gray)

    rgb = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    w, h, px = MM.decode_image_bytes(MM.encode_png(rgb))
    want = MM._luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    assert (w, h) == (5, 6) and np.array_equal(px, want)

    rgba = rng.integers(0, 256, size=(4, 7, 4), dtype=np.uint8)
    w, h, px = MM.decode_image_bytes(MM.encode_png(rgba))
    want = MM._luma(rgba[:, :, 0], rgba[:, :, 1], rgba[:, :, 2])
    assert (w, h) == (7, 4) and np.array_equal(px, want)  # alpha dropped

    ga = rng.integers(0, 256, size=(3, 8, 2), dtype=np.uint8)
    w, h, px = MM.decode_image_bytes(MM.encode_png(ga))
    assert (w, h) == (8, 3) and np.array_equal(px, ga[:, :, 0])


def test_png_all_filter_types_unfilter():
    """Forward-filter rows with every type (incl. Average/Paeth) and check
    the decoder recovers the exact pixels."""
    rng = np.random.default_rng(11)
    for nch, ctype in [(1, 0), (3, 2), (4, 6)]:
        raw = rng.integers(0, 256, size=(5, 6 * nch), dtype=np.uint8)
        stream = _png_forward_filter(raw, [0, 1, 2, 3, 4], bpp=nch)
        w, h, px = MM.decode_image_bytes(
            _png_from_stream(6, 5, ctype, stream)
        )
        got = raw.reshape(5, 6, nch)
        if nch == 1:
            want = got[:, :, 0]
        else:
            want = MM._luma(got[:, :, 0], got[:, :, 1], got[:, :, 2])
        assert (w, h) == (6, 5) and np.array_equal(px, want), (nch, ctype)


def test_png_palette_decode():
    rng = np.random.default_rng(3)
    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(7, 4), dtype=np.uint8)
    stream = _png_forward_filter(idx, [0, 4, 1, 2, 3, 0, 4], bpp=1)
    w, h, px = MM.decode_image_bytes(_png_from_stream(4, 7, 3, stream, plte))
    rgb = plte[idx]
    want = MM._luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    assert (w, h) == (4, 7) and np.array_equal(px, want)


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    gray = np.zeros((2, 2), dtype=np.uint8)
    good = MM.encode_png(gray)
    # 16-bit depth
    bad = bytearray(good)
    bad[8 + 8 + 8] = 16  # IHDR depth byte
    with pytest.raises(NotImplementedError, match="depth"):
        MM.decode_image_bytes(bytes(bad))
    # Adam7 interlace
    bad = bytearray(good)
    bad[8 + 8 + 12] = 1  # IHDR interlace byte
    with pytest.raises(NotImplementedError, match="interlace"):
        MM.decode_image_bytes(bytes(bad))


def test_png_through_spark(spark):
    """PNG binaries through the real mapInPandas operators."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(4):
        px = rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint8)
        rows.append((i, bytearray(MM.encode_png(px)), px))
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in rows], "doc_id long, image binary"
    )
    feats = {r["doc_id"]: r for r in MM.image_features(df).collect()}
    for i, _, px in rows:
        want = MM._luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])
        assert (feats[i]["width"], feats[i]["height"]) == (10, 8)
        assert feats[i]["mean_luma"] == pytest.approx(want.mean(), abs=1e-9)
    small = MM.image_resize(df, 5, 4).collect()
    w, h, px2 = MM.decode_image_bytes(bytes(small[0]["image"]))
    assert (w, h) == (5, 4) and px2.shape == (4, 5)


# --- JPEG (baseline, numpy-only) ---------------------------------------------

def test_jpeg_gray_round_trip():
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.default_rng(42)
    grad = (np.add.outer(np.arange(24) * 3, np.arange(40) * 2) % 256).astype(
        np.uint8
    )
    noise = rng.integers(0, 256, size=(17, 23), dtype=np.uint8)
    for img in (grad, noise):
        w, h, out = MM.decode_image_bytes(encode_jpeg_gray(img, quant=1))
        assert (w, h) == (img.shape[1], img.shape[0])
        # quant=1: error bounded by DCT float rounding
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_420_color_round_trip():
    """Interleaved-MCU + chroma-subsampling decode path: 4:2:0 color with
    known Y plane; decoder returns the luma within rounding."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_ycbcr420

    rng = np.random.default_rng(9)
    for hw in [(16, 16), (24, 40), (17, 23)]:  # exact + padded MCU grids
        y = rng.integers(0, 256, size=hw, dtype=np.uint8)
        ch, cw = (hw[0] + 1) // 2, (hw[1] + 1) // 2
        cb = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        cr = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        w, h, out = MM.decode_image_bytes(encode_jpeg_ycbcr420(y, cb, cr))
        assert (w, h) == (hw[1], hw[0])
        assert np.abs(out.astype(int) - y.astype(int)).max() <= 2


def test_jpeg_unsupported_modes_raise():
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    base = bytearray(encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8)))
    i = base.find(b"\xff\xc0")
    # lossless (SOF3) and arithmetic-coded (SOFA) stay unsupported
    for sof in (0xC3, 0xCA):
        data = bytearray(base)
        data[i + 1] = sof
        with pytest.raises(NotImplementedError, match="SOF"):
            MM.decode_image_bytes(bytes(data))
    # a baseline-shaped scan header under an SOF2 frame is corrupt
    # progressive data (DC scan must have Se=0) — contract error, not a
    # silent mis-decode
    data = bytearray(base)
    data[i + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        MM.decode_image_bytes(bytes(data))


def test_jpeg_sof1_extended_sequential_decodes_as_baseline():
    """SOF1 (extended sequential) is bit-identical to SOF0 at 8-bit
    precision; real crawl files occasionally declare it."""
    from entity_resolution_spark.operators.jpeg import decode_jpeg, encode_jpeg_gray

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img, quant=1))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC1
    w, h, out = decode_jpeg(bytes(data))
    assert (w, h) == (24, 16)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_through_spark(spark):
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.default_rng(3)
    rows = []
    for i in range(3):
        px = rng.integers(0, 256, size=(8, 16), dtype=np.uint8)
        rows.append((i, bytearray(encode_jpeg_gray(px)), px))
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in rows], "doc_id long, image binary"
    )
    feats = {r["doc_id"]: r for r in MM.image_features(df).collect()}
    for i, _, px in rows:
        assert (feats[i]["width"], feats[i]["height"]) == (16, 8)
        assert abs(feats[i]["mean_luma"] - px.mean()) <= 2


def test_avi_mjpeg_round_trip_and_frame_sample(spark):
    """Real video container: MJPEG-in-AVI through decode + the Spark
    frame-sampling operator."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.default_rng(4)
    frames = [rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
              for _ in range(6)]
    avi = MM.encode_avi_mjpeg([encode_jpeg_gray(f) for f in frames], 24, 16)

    w, h, got = MM.decode_video_bytes(avi)
    assert (w, h, len(got)) == (24, 16, 6)
    for g, f in zip(got, frames):
        assert np.abs(g.astype(int) - f.astype(int)).max() <= 2

    df = spark.createDataFrame(
        [(3, bytearray(avi))], "doc_id long, video binary"
    )
    sampled = MM.video_frame_sample(df, every_n=2).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2, 4]
    _, _, px = MM.decode_image_bytes(
        bytes(sorted(sampled, key=lambda r: r["frame_idx"])[1]["frame"])
    )
    assert np.abs(px.astype(int) - frames[2].astype(int)).max() <= 2

    # non-MJPEG AVI and unknown containers fail with the documented errors
    raw_dib_avi = bytearray(avi)
    i = raw_dib_avi.find(b"00dc")
    raw_dib_avi[i + 8 : i + 10] = b"XX"  # corrupt the JPEG magic
    with pytest.raises(NotImplementedError, match="MJPEG"):
        MM.decode_video_bytes(bytes(raw_dib_avi))
    with pytest.raises(NotImplementedError, match="register_decoder"):
        MM.decode_video_bytes(b"RIFF\x04\x00\x00\x00WAVE")


def test_gif_round_trip_and_spark_path(spark):
    from entity_resolution_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(6)
    px = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    # identity gray palette => exact round trip
    w, h, out = MM.decode_image_bytes(encode_gif(px))
    assert (w, h) == (40, 24) and np.array_equal(out, px)
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(px)))], "doc_id long, image binary"
    )
    r = MM.image_features(df).collect()[0]
    assert (r["width"], r["height"]) == (40, 24)
    assert abs(r["mean_luma"] - px.mean()) < 1e-9


def test_gif_interlaced_and_color_palette():
    import struct

    from entity_resolution_spark.operators import gif as G

    rng = np.random.default_rng(8)
    # color palette: luma collapse must match the shared Rec.601 helper
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(9, 6), dtype=np.uint8)
    h, w = idx.shape
    # hand-build: global 16-color palette (flags size field = 3 -> 2<<3=16)
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x03, 0, 0)
    # interlaced descriptor: rows stored in interlace pass order
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = idx[order]
    desc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
    lzw = G._lzw_encode(stored.tobytes(), 4)
    blocks = bytearray([4])
    for i in range(0, len(lzw), 255):
        c = lzw[i : i + 255]
        blocks += bytes([len(c)]) + c
    blocks += b"\x00"
    # plus a leading extension block (comment) the parser must skip
    ext = b"\x21\xFE\x05hello\x00"
    data = head + pal.tobytes() + ext + desc + bytes(blocks) + b"\x3B"
    w2, h2, out = G.decode_gif(data)
    rgb = pal[idx]
    want = MM._luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    assert (w2, h2) == (w, h) and np.array_equal(out, want)


def test_jpeg_422_and_444_round_trip():
    """The remaining subsampling layouts the decoder claims: 4:2:2
    (horizontal-only chroma subsampling) and 4:4:4 (none)."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_ycbcr

    rng = np.random.default_rng(12)
    for hs, vs in [(2, 1), (1, 1)]:
        for hw in [(16, 16), (13, 22)]:
            y = rng.integers(0, 256, size=hw, dtype=np.uint8)
            ch = (hw[0] + vs - 1) // vs
            cw = (hw[1] + hs - 1) // hs
            cb = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
            cr = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
            w, h, out = MM.decode_image_bytes(
                encode_jpeg_ycbcr(y, cb, cr, hs=hs, vs=vs)
            )
            assert (w, h) == (hw[1], hw[0]), (hs, vs, hw)
            assert np.abs(out.astype(int) - y.astype(int)).max() <= 2


def test_jpeg_restart_markers_round_trip():
    """DRI + RSTn resync path: byte-aligned markers, DC predictor reset."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(13)
    for hw, ri in [((24, 40), 2), ((32, 32), 3), ((17, 23), 1)]:
        px = rng.integers(0, 256, size=hw, dtype=np.uint8)
        data = encode_jpeg_gray(px, quant=1, restart_interval=ri)
        assert b"\xff\xdd" in data  # DRI segment present
        w, h, out = decode_jpeg(data)
        assert (w, h) == (hw[1], hw[0])
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_audio_spectral_features(spark):
    """A pure 440 Hz sine: dominant bin and centroid land on the tone;
    zero-crossing rate matches 2f/sr; a 4 kHz tone separates cleanly."""
    sr = 16000
    t = np.arange(sr)  # 1 second
    rows = []
    for i, f0 in [(1, 440.0), (2, 4000.0)]:
        wave = (np.sin(2 * np.pi * f0 * t / sr) * 12000).astype(np.int16)
        rows.append((i, bytearray(MM.encode_wav(sr, wave))))
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    feats = {r["doc_id"]: r for r in MM.audio_spectral_features(df).collect()}
    bin_hz = sr / 512  # frame=512 -> 31.25 Hz resolution
    for i, f0 in [(1, 440.0), (2, 4000.0)]:
        r = feats[i]
        assert abs(r["dominant_hz"] - f0) <= bin_hz, (f0, r)
        # windowing leaks energy into neighbors; centroid within a few bins
        assert abs(r["spectral_centroid_hz"] - f0) <= 4 * bin_hz, (f0, r)
        assert abs(r["zero_crossing_rate"] - 2 * f0 / sr) < 0.01, (f0, r)
        assert r["spectral_rolloff_hz"] >= r["dominant_hz"] - bin_hz
    # partition invariance
    a = sorted(map(tuple, MM.audio_spectral_features(df).collect()))
    b = sorted(map(tuple, MM.audio_spectral_features(df.repartition(5)).collect()))
    assert a == b


def test_jpeg_non_interleaved_single_component_scan():
    """T.81 A.2.2: a single-component scan is NON-interleaved (sampling
    factors ignored, one block per MCU, raster order) — real grayscale
    crawl JPEGs declare 2x2 sampling with an ns=1 scan."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(px))
    i = data.find(b"\xff\xc0")
    samp_off = i + 11  # SOF0: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1)
    assert data[samp_off] == 0x11
    data[samp_off] = 0x22  # declare 2x2 sampling; entropy data unchanged
    w, h, out = decode_jpeg(bytes(data))
    assert (w, h) == (40, 24)
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_jpeg_truncation_raises_codec_error_everywhere():
    """Truncated crawl bytes raise the codec's NotImplementedError at any
    cut point — never a bare IndexError that obscures the cause."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    base = encode_jpeg_gray(
        np.tile(np.arange(64, dtype=np.uint8).reshape(8, 8), (4, 4))
    )
    for cut in range(4, len(base), 5):
        try:
            decode_jpeg(base[:cut])
        except NotImplementedError:
            pass  # the documented corrupt/truncated-input signal


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any run of 0xFF fill bytes may pad before a marker.
    Padded files must decode identically to the unpadded encoding."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    data = encode_jpeg_gray(img, quant=1)
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xda"):
        i = data.find(marker)
        data = data[:i] + b"\xff\xff\xff" + data[i:]
    w, h, out = MM.decode_image_bytes(data)
    assert (w, h) == (16, 16)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_corrupt_entropy_raises_contract_error():
    """Corrupt entropy data raises NotImplementedError per the module
    contract — never a bare EOFError (marker mid-scan) or the internal
    _RestartMarker (stray RSTn in a non-interleaved scan)."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    data = encode_jpeg_gray(img, quant=1)
    sos = data.find(b"\xff\xda")
    mid = sos + 10 + 8  # a few bytes into the entropy-coded segment
    # a real marker mid-scan (previously escaped as EOFError)
    bad_marker = data[:mid] + b"\xff\xc4" + data[mid:]
    # a stray restart marker with no DRI (previously escaped _RestartMarker)
    bad_rst = data[:mid] + b"\xff\xd3" + data[mid:]
    for bad in (bad_marker, bad_rst):
        with pytest.raises(NotImplementedError):
            MM.decode_image_bytes(bytes(bad))


# --- JPEG progressive (SOF2) -------------------------------------------------

def test_jpeg_progressive_gray_matches_baseline_exactly():
    """The six-scan progressive script reconstructs the SAME quantized
    coefficients as the baseline encoding, so the decoded luma must be
    byte-identical — a far stronger check than tolerance bounds."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(31)
    grad = (np.add.outer(np.arange(24) * 3, np.arange(40) * 2) % 256).astype(
        np.uint8
    )
    noise = rng.integers(0, 256, size=(17, 23), dtype=np.uint8)
    flat = np.full((16, 16), 130, dtype=np.uint8)  # all-EOB AC scans
    for img in (grad, noise, flat):
        for quant in (1, 3):
            base = decode_jpeg(encode_jpeg_gray(img, quant=quant))
            prog = decode_jpeg(
                encode_jpeg_progressive_gray(img, quant=quant)
            )
            assert base[:2] == prog[:2]
            assert np.array_equal(base[2], prog[2]), (img.shape, quant)
            if quant == 1:
                assert np.abs(prog[2].astype(int) - img.astype(int)).max() <= 2


def test_jpeg_progressive_restart_markers():
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(32)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg_gray(img, quant=2))
    prog = decode_jpeg(
        encode_jpeg_progressive_gray(img, quant=2, restart_interval=3)
    )
    assert np.array_equal(base[2], prog[2])


def test_jpeg_progressive_color_matches_baseline():
    """Interleaved DC scans + per-component non-interleaved AC scans over
    4:2:0/4:2:2 layouts, including an image that is not a whole number of
    MCUs (the component grid differs from the MCU-padded grid)."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive_ycbcr,
        encode_jpeg_ycbcr,
    )

    rng = np.random.default_rng(33)
    for hw, (hs, vs) in [((16, 16), (2, 2)), ((17, 23), (2, 2)),
                         ((24, 40), (2, 1))]:
        y = rng.integers(0, 256, size=hw, dtype=np.uint8)
        ch, cw = (hw[0] + vs - 1) // vs, (hw[1] + hs - 1) // hs
        cb = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        cr = rng.integers(0, 256, size=(ch, cw), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg_ycbcr(y, cb, cr, quant=1, hs=hs, vs=vs))
        prog = decode_jpeg(
            encode_jpeg_progressive_ycbcr(y, cb, cr, quant=1, hs=hs, vs=vs)
        )
        assert base[:2] == prog[:2] == (hw[1], hw[0])
        assert np.array_equal(base[2], prog[2]), (hw, hs, vs)
        assert np.abs(prog[2].astype(int) - y.astype(int)).max() <= 2


def test_jpeg_progressive_truncation_raises_everywhere():
    """Cutting a progressive file at ANY byte raises the contract error
    (or, for cuts beyond the last scan's data, still decodes) — never an
    internal exception type."""
    from entity_resolution_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(34)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    data = encode_jpeg_progressive_gray(img, quant=2)
    for cut in range(2, len(data), 7):
        try:
            decode_jpeg(data[:cut])
        except NotImplementedError:
            pass  # the documented corrupt/truncated-input signal


def test_jpeg_progressive_through_spark_image_features(spark):
    from entity_resolution_spark.operators.jpeg import (
        encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(35)
    rows = []
    for i in range(3):
        px = rng.integers(0, 256, size=(8, 16), dtype=np.uint8)
        rows.append((i, bytearray(encode_jpeg_progressive_gray(px)), px))
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in rows], "doc_id long, image binary"
    )
    feats = {r["doc_id"]: r for r in MM.image_features(df).collect()}
    for i, _, px in rows:
        assert (feats[i]["width"], feats[i]["height"]) == (16, 8)
        assert abs(feats[i]["mean_luma"] - px.mean()) <= 2


# --- FLAC (lossless audio, RFC 9639) -----------------------------------------

def _flac_fixture_pcm(n=3000, sr=16000, seed=51):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    return (
        (np.sin(2 * np.pi * 440 * t / sr) * 9000).astype(np.int64)
        + rng.integers(-60, 60, n)
    )


def test_flac_exact_round_trip_all_paths():
    """FLAC is lossless: decode(encode(pcm)) must equal pcm EXACTLY, on
    every subframe/residual/stereo variant the decoder implements."""
    from entity_resolution_spark.operators.flac import decode_flac, encode_flac

    mono = _flac_fixture_pcm()
    variants = [
        dict(),
        dict(subframe_mode="verbatim"),
        dict(subframe_mode="verbatim", wasted_bits=3),
        dict(partition_order=2),
        dict(force_escape=True),
        dict(rice2=True),
        dict(block_size=192),
    ]
    for kw in variants:
        pcm = (mono & ~7) if kw.get("wasted_bits") else mono
        sr, bps, out = decode_flac(encode_flac(16000, pcm, **kw))
        assert (sr, bps) == (16000, 16)
        assert np.array_equal(out[:, 0], pcm), kw

    left = _flac_fixture_pcm(seed=52)
    right = left + np.random.default_rng(53).integers(-200, 200, len(left))
    st = np.stack([left, right], axis=1)
    for mode in ["independent", "mid_side", "left_side", "right_side"]:
        sr, bps, out = decode_flac(
            encode_flac(8000, st, stereo_mode=mode, block_size=512)
        )
        assert np.array_equal(out, st), mode

    # constant (silence) blocks
    sil = np.zeros(700, dtype=np.int64)
    _, _, out = decode_flac(encode_flac(44100, sil))
    assert np.array_equal(out[:, 0], sil)


def test_flac_matches_planted_wav():
    """Same PCM through the WAV path and the FLAC path must agree
    sample-for-sample after the shared mono/int16 normalization."""
    from entity_resolution_spark.operators.flac import encode_flac

    pcm = _flac_fixture_pcm().astype(np.int16)
    sr_w, wav_mono = MM.decode_audio_bytes(MM.encode_wav(16000, pcm))
    sr_f, flac_mono = MM.decode_audio_bytes(
        encode_flac(16000, pcm.astype(np.int64))
    )
    assert sr_w == sr_f == 16000
    assert np.array_equal(wav_mono, flac_mono)


def test_flac_truncation_raises_contract_error():
    from entity_resolution_spark.operators.flac import decode_flac, encode_flac

    data = encode_flac(16000, _flac_fixture_pcm(n=1500), block_size=256)
    for cut in range(4, len(data), 11):
        try:
            decode_flac(data[:cut])
        except NotImplementedError:
            pass  # the documented corrupt/truncated-input signal


def test_flac_crc_corruption_detected():
    from entity_resolution_spark.operators.flac import decode_flac, encode_flac

    data = bytearray(encode_flac(16000, _flac_fixture_pcm(n=500)))
    # flip a bit inside the first frame's entropy data
    data[len(data) // 2] ^= 0x10
    with pytest.raises(NotImplementedError, match="FLAC"):
        decode_flac(bytes(data))


def test_flac_spectral_features_through_spark(spark):
    """audio_features + audio_spectral_features over a FLAC column find
    the planted tone, matching the same PCM delivered as WAV."""
    from entity_resolution_spark.operators.flac import encode_flac

    sr = 16000
    t = np.arange(sr)
    pcm = (np.sin(2 * np.pi * 440 * t / sr) * 10000).astype(np.int64)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_flac(sr, pcm))),
            (2, bytearray(MM.encode_wav(sr, pcm.astype(np.int16)))),
        ],
        "doc_id long, audio binary",
    )
    feats = {r["doc_id"]: r for r in MM.audio_features(df).collect()}
    assert feats[1]["sample_rate"] == sr and feats[1]["n_samples"] == sr
    assert abs(feats[1]["duration_s"] - 1.0) < 1e-9
    assert abs(feats[1]["rms"] - feats[2]["rms"]) < 1e-9
    spec = {r["doc_id"]: r for r in MM.audio_spectral_features(df).collect()}
    for c in spec[1].asDict():
        if c == "doc_id":
            continue
        assert abs(spec[1][c] - spec[2][c]) < 1e-6, c
    # the dominant bin sits at the planted tone (frame=512 @ 16 kHz
    # gives 31.25 Hz bins; 440 Hz lands in the 437.5 Hz bin)
    assert abs(spec[1]["dominant_hz"] - 440.0) < 31.25


# --- register_decoder integration examples (round-5 item 8) ------------------

def test_registered_decoder_overrides_builtin_on_decodable_fixture(spark):
    """Strict precedence on a fixture the BUILT-IN codec could also decode:
    a registered decoder claiming JPEG magic must win over operators/jpeg.py
    (the CLAUDE.md ordering invariant — plugging Pillow in replaces the
    pure-python path, it doesn't race it)."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    real = encode_jpeg_gray(np.full((8, 8), 77, dtype=np.uint8))

    def sentinel_jpeg_decoder(data):
        if data[:2] != b"\xff\xd8":
            return None
        return 1, 1, np.array([[255]], dtype=np.uint8)  # unmistakable

    # built-in path first: real dimensions
    w, h, px = MM.decode_image_bytes(real)
    assert (w, h) == (8, 8) and abs(int(px.mean()) - 77) <= 2
    MM.register_decoder("image", sentinel_jpeg_decoder)
    try:
        assert MM.decode_image_bytes(real)[:2] == (1, 1)
        # and through the Spark operator (closure ships by value)
        df = spark.createDataFrame(
            [(1, bytearray(real))], "doc_id long, image binary"
        )
        r = MM.image_features(df).collect()[0]
        assert (r["width"], r["height"], r["mean_luma"]) == (1, 1, 255.0)
    finally:
        MM.clear_decoders("image")
    assert MM.decode_image_bytes(real)[:2] == (8, 8)  # built-in restored


def test_mp3_plug_point_on_realistic_frame_bytes(spark):
    """MP3 stays a plug-point format (a pure-python MPEG-1 Layer III
    decoder is out of scope) — this pins the integration contract on
    REALISTIC bytes: an MPEG frame-sync header (0xFFFB, 128 kbps, 44.1 kHz)
    that no built-in codec claims, routed to the registered decoder
    end-to-end through audio_features, and the documented plug-point error
    without one."""
    # 4-byte MPEG-1 Layer III header + fake payload standing in for
    # entropy data; only the registered decoder understands it
    frame = b"\xff\xfb\x90\x00" + np.arange(64, dtype=np.int16).tobytes()

    with pytest.raises(NotImplementedError, match="register_decoder"):
        MM.decode_audio_bytes(frame)

    def mp3_decoder(data):
        if data[:2] != b"\xff\xfb":
            return None
        return 44100, np.frombuffer(data[4:], dtype=np.int16)

    MM.register_decoder("audio", mp3_decoder)
    try:
        df = spark.createDataFrame(
            [(1, bytearray(frame))], "doc_id long, audio binary"
        )
        r = MM.audio_features(df).collect()[0]
        assert (r["sample_rate"], r["n_samples"]) == (44100, 64)
    finally:
        MM.clear_decoders("audio")


def test_pillow_integration_example_if_importable(spark):
    """The real-library wiring, exactly as a deployment would do it; skips
    cleanly when Pillow isn't in the container (it isn't in this sandbox —
    the test documents and guards the recipe, the sentinel test above
    proves the precedence mechanics)."""
    Image = pytest.importorskip("PIL.Image", reason="Pillow not installed")
    import io as _io

    def pillow_decoder(data):
        try:
            img = Image.open(_io.BytesIO(data)).convert("L")
        except Exception:
            return None
        px = np.asarray(img, dtype=np.uint8)
        return img.width, img.height, px

    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray

    real = encode_jpeg_gray(np.full((8, 8), 50, dtype=np.uint8))
    MM.register_decoder("image", pillow_decoder)
    try:
        w, h, px = MM.decode_image_bytes(real)
        assert (w, h) == (8, 8) and abs(int(px.mean()) - 50) <= 2
    finally:
        MM.clear_decoders("image")


def test_pydub_mp3_integration_example_if_importable(spark):
    pydub = pytest.importorskip("pydub", reason="pydub not installed")
    import io as _io

    def pydub_mp3_decoder(data):
        if data[:3] != b"ID3" and data[:2] != b"\xff\xfb":
            return None
        seg = pydub.AudioSegment.from_file(_io.BytesIO(data), format="mp3")
        pcm = np.array(seg.get_array_of_samples(), dtype=np.int16)
        if seg.channels > 1:
            pcm = pcm.reshape(-1, seg.channels).mean(axis=1).astype(np.int16)
        return seg.frame_rate, pcm

    MM.register_decoder("audio", pydub_mp3_decoder)
    MM.clear_decoders("audio")


# --- MP4 / ISO-BMFF (Motion-JPEG) --------------------------------------------

def test_mp4_mjpeg_round_trip_and_frame_sample(spark):
    """Real container #2: Motion-JPEG MP4 through the full sample-table
    walk (stsd/stsz/stsc/stco) + the Spark frame-sampling operator."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray
    from entity_resolution_spark.operators.mp4 import encode_mp4_mjpeg

    rng = np.random.default_rng(61)
    frames = [rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
              for _ in range(6)]
    mp4 = encode_mp4_mjpeg([encode_jpeg_gray(f, quant=1) for f in frames],
                           24, 16)
    w, h, got = MM.decode_video_bytes(mp4)
    assert (w, h, len(got)) == (24, 16, 6)
    for a, b in zip(frames, got):
        assert np.abs(a.astype(int) - b.astype(int)).max() <= 2

    df = spark.createDataFrame(
        [(3, bytearray(mp4))], "doc_id long, video binary"
    )
    sampled = MM.video_frame_sample(df, every_n=2).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2, 4]


def test_mp4_chunked_and_co64_layouts():
    """Multi-chunk stsc runs (ragged final chunk = second run) and 64-bit
    co64 offsets decode identically to the single-chunk layout."""
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray
    from entity_resolution_spark.operators.mp4 import (
        decode_mp4_mjpeg,
        encode_mp4_mjpeg,
    )

    rng = np.random.default_rng(62)
    frames = [rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
              for _ in range(7)]
    jpegs = [encode_jpeg_gray(f, quant=1) for f in frames]
    base = decode_mp4_mjpeg(encode_mp4_mjpeg(jpegs, 8, 8))
    for kw in [dict(samples_per_chunk=3), dict(samples_per_chunk=2),
               dict(use_co64=True), dict(samples_per_chunk=3, use_co64=True)]:
        w, h, got = decode_mp4_mjpeg(encode_mp4_mjpeg(jpegs, 8, 8, **kw))
        assert (w, h, len(got)) == (8, 8, 7), kw
        for a, b in zip(base[2], got):
            assert np.array_equal(a, b), kw


def test_mp4_contract_errors():
    from entity_resolution_spark.operators.jpeg import encode_jpeg_gray
    from entity_resolution_spark.operators.mp4 import (
        decode_mp4_mjpeg,
        encode_mp4_mjpeg,
    )

    rng = np.random.default_rng(63)
    frames = [rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
              for _ in range(3)]
    mp4 = encode_mp4_mjpeg([encode_jpeg_gray(f) for f in frames], 8, 8)
    # truncation sweep: contract error or success, never internal types
    for cut in range(8, len(mp4), 13):
        try:
            decode_mp4_mjpeg(mp4[:cut])
        except NotImplementedError:
            pass
    # compressed codec names the fourcc and points at the plug point
    bad = bytearray(mp4)
    i = bad.find(b"jpeg", bad.find(b"stsd"))
    bad[i : i + 4] = b"avc1"
    with pytest.raises(NotImplementedError, match="avc1"):
        decode_mp4_mjpeg(bytes(bad))
    # untrusted 32-bit counts must be bounded BEFORE allocation: a 12-byte
    # patch claiming 2^31 samples (or an out-of-range stsc run) raises the
    # contract error instead of fabricating a multi-GB list (MemoryError)
    import struct as _struct

    from entity_resolution_spark.operators.mp4 import mp4_video_samples

    huge = bytearray(mp4)
    i = huge.find(b"stsz")
    huge[i + 8 : i + 16] = _struct.pack(">II", 1, 0x7FFFFFFF)
    with pytest.raises(NotImplementedError, match="stsz"):
        mp4_video_samples(bytes(huge))
    runaway = bytearray(mp4)
    i = runaway.find(b"stsc")
    runaway[i + 12 : i + 16] = _struct.pack(">I", 0x7FFFFFF0)
    with pytest.raises(NotImplementedError, match="stsc"):
        mp4_video_samples(bytes(runaway))
