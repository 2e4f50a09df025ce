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
    # GIF has no built-in decoder: it reaches the plug-point error
    with pytest.raises(NotImplementedError, match="register_decoder"):
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
    # with the registry cleared, no built-in decoder claims JPEG magic, so
    # the same bytes reach the plug-point error
    with pytest.raises(NotImplementedError, match="register_decoder"):
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


def test_registered_decoder_overrides_builtin_on_decodable_fixture(spark):
    """Strict precedence on a fixture the BUILT-IN codec could also decode:
    a registered decoder claiming PNG magic must win over the built-in PNG
    decoder (the documented ordering invariant — plugging Pillow in replaces
    the pure-python path, it doesn't race it)."""
    real = MM.encode_png(np.full((8, 8), 77, dtype=np.uint8))

    def sentinel_png_decoder(data):
        if data[:8] != MM.PNG_SIG:
            return None
        return 1, 1, np.array([[255]], dtype=np.uint8)  # unmistakable

    # built-in path first: real dimensions
    w, h, px = MM.decode_image_bytes(real)
    assert (w, h) == (8, 8) and int(px.mean()) == 77
    MM.register_decoder("image", sentinel_png_decoder)
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
