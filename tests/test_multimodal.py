"""Multimodal plumbing: schemas, determinism, frame shapes, stubs."""

from __future__ import annotations

import numpy as np
import pytest

from commoncrawl_crawler_spark.operators import multimodal
from commoncrawl_crawler_spark.sources import load_table


def _media(spark, sf):
    return multimodal.media_from_documents(load_table(spark, "documents", sf))


def test_real_codec_is_stubbed(spark, sf_smoke):
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(_media(spark, sf_smoke), codec="real")


def test_fake_codec_features_normalized_and_deterministic(spark, sf_smoke):
    decoded = multimodal.decode_media(_media(spark, sf_smoke), codec="fake16")
    rows = decoded.orderBy("media_id").limit(20).collect()
    assert all(len(r["features"]) == multimodal.N_FEATURES for r in rows)
    for r in rows:
        if r["n_bytes"] > 0:
            assert sum(r["features"]) == pytest.approx(1.0)
    # determinism: same input -> identical features
    again = decoded.orderBy("media_id").limit(20).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in again]


def test_fake_codec_matches_numpy_reference(spark, sf_smoke):
    docs = load_table(spark, "documents", sf_smoke).limit(5).collect()
    decoded = {
        r["media_id"]: r["features"]
        for r in multimodal.decode_media(
            _media(spark, sf_smoke), codec="fake16"
        ).collect()
    }
    for d in docs:
        arr = np.frombuffer(d["text"].encode(), dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16).astype(float)
        expect = hist / hist.sum()
        assert decoded[d["doc_id"]] == pytest.approx(list(expect))


def test_frame_sample_reassembles_content(spark, sf_smoke):
    media = _media(spark, sf_smoke).limit(3)
    originals = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    frames = multimodal.frame_sample(media, frame_bytes=64).collect()
    by_id: dict[int, list] = {}
    for f in sorted(frames, key=lambda r: (r["media_id"], r["frame_idx"])):
        by_id.setdefault(f["media_id"], []).append(bytes(f["frame"]))
    for mid, parts in by_id.items():
        assert b"".join(parts) == originals[mid]


def test_frame_sample_max_frames_cap(spark, sf_smoke):
    frames = multimodal.frame_sample(
        _media(spark, sf_smoke), frame_bytes=8, max_frames=3
    )
    import pyspark.sql.functions as F

    per_item = frames.groupBy("media_id").count()
    assert per_item.agg(F.max("count")).collect()[0][0] <= 3


def test_resize_stub_fixed_shape(spark, sf_smoke):
    thumbs = multimodal.resize_stub(
        _media(spark, sf_smoke).limit(4), width=8, height=4
    ).collect()
    assert all(len(bytes(r["thumb"])) == 32 for r in thumbs)
    assert all(r["width"] == 8 and r["height"] == 4 for r in thumbs)


def test_ppm_parser_handles_header_comments():
    pixels = bytes(range(2 * 2 * 3))
    blob = b"P6\n# creator: some-tool\n2 2\n255\n" + pixels
    w, h, arr = multimodal.parse_ppm_bytes(blob)
    assert (w, h) == (2, 2)
    assert arr.tolist() == list(range(12))


def test_ppm_parser_rejects_garbage():
    with pytest.raises(ValueError):
        multimodal.parse_ppm_bytes(b"P5\n2 2\n255\n" + b"\x00" * 4)


def test_ppm_roundtrip_decode_matches_formula(spark, sf_smoke):
    docs = load_table(spark, "documents", sf_smoke).limit(5)
    rows = multimodal.decode_ppm(multimodal.synthesize_ppm(docs)).collect()
    for r in rows:
        mid = r["media_id"]
        w, h = 8 + mid % 9, 6 + mid % 7
        assert (r["width"], r["height"]) == (w, h)
        p = np.arange(w * h * 3, dtype=np.int64)
        vals = (mid * 3 + p * 5) % 256
        assert r["sum_r"] == int(vals[0::3].sum())
        assert r["sum_b"] == int(vals[2::3].sum())


def test_ppm_parser_rejects_truncated_input():
    with pytest.raises(ValueError):  # negative dims must not underflow
        multimodal.parse_ppm_bytes(b"P6\n-1 2\n255\n" + b"\x00" * 100)
    with pytest.raises(ValueError):  # header cut before maxval
        multimodal.parse_ppm_bytes(b"P6\n2 2")
    with pytest.raises(ValueError):  # comment running to end of buffer
        multimodal.parse_ppm_bytes(b"P6\n# no newline after this")
    with pytest.raises(ValueError):  # pixel frame shorter than w*h*3
        multimodal.parse_ppm_bytes(b"P6\n2 2\n255\n" + b"\x00" * 5)


def test_image_band_stats_tile_exactness(spark):
    """Bands tile the image rows exactly (partial last band keeps its
    true height) and per-band channel sums match a numpy reference."""
    import numpy as np
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=2, text="x"), Row(doc_id=5, text="y")])
    media = multimodal.synthesize_ppm(docs)
    out = multimodal.image_band_stats(media, band_h=4).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rows in by_media.items():
        w, h = 8 + mid % 9, 6 + mid % 7
        p = np.arange(w * h * 3)
        img = ((mid * 3 + p * 5) % 256).reshape(h, w, 3)
        n_bands = (h + 3) // 4
        assert len(rows) == n_bands * 3
        for r in rows:
            seg = img[r.band * 4 : r.band * 4 + 4, :, r.channel]
            assert r.n == seg.size
            assert r.sum_v == int(seg.sum())
            assert r.min_v == int(seg.min())
            assert r.max_v == int(seg.max())


# --- PNG (stdlib zlib decode: chunk walk, inflate, unfilter) ---


def test_png_roundtrip_all_filter_types():
    """Encoder cycles filters 0-4; decoder must reverse each exactly."""
    import numpy as np

    w, h = 7, 10  # h=10 -> every filter type appears twice
    px = ((np.arange(w * h * 3) * 11 + 5) % 256).astype(np.uint8)
    blob = multimodal.encode_png_bytes(
        w, h, px, filter_for_row=lambda r: r % 5
    )
    rw, rh, arr = multimodal.parse_png_bytes(blob)
    assert (rw, rh) == (w, h)
    assert (arr == px.astype(np.int64)).all()


def test_png_crc_validated_and_garbage_rejected():
    import numpy as np
    import pytest as _pytest

    px = np.zeros(3 * 4 * 3, dtype=np.uint8)
    blob = bytearray(multimodal.encode_png_bytes(3, 4, px))
    blob[20] ^= 0xFF  # corrupt a byte inside IHDR
    with _pytest.raises(ValueError, match="CRC"):
        multimodal.parse_png_bytes(bytes(blob))
    with _pytest.raises(ValueError, match="signature"):
        multimodal.parse_png_bytes(b"not a png at all....")


def test_png_grayscale_expands_to_rgb():
    """Color type 0 decode: gray value replicated into R,G,B."""
    import struct
    import zlib as _zlib

    w, h = 4, 2
    gray = bytes(range(w * h))
    scan = b"".join(b"\x00" + gray[r * w : (r + 1) * w] for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", _zlib.compress(scan))
        + multimodal._png_chunk(b"IEND", b"")
    )
    rw, rh, arr = multimodal.parse_png_bytes(blob)
    assert (rw, rh) == (w, h)
    assert list(arr[:6]) == [0, 0, 0, 1, 1, 1]


def test_png_multiple_idat_chunks_concatenated():
    import struct
    import zlib as _zlib

    w, h = 2, 2
    scan = b"\x00" + bytes(6) + b"\x00" + bytes(range(6))
    comp = _zlib.compress(scan)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", comp[: len(comp) // 2])
        + multimodal._png_chunk(b"IDAT", comp[len(comp) // 2 :])
        + multimodal._png_chunk(b"IEND", b"")
    )
    _, _, arr = multimodal.parse_png_bytes(blob)
    assert list(arr[6:12]) == [0, 1, 2, 3, 4, 5]


def test_png_ppm_twins_decode_identically(spark, sf_smoke):
    """The PNG and PPM synthesizers encode the SAME pixels; the two
    real decoders must produce identical feature rows (band-stats
    parity for the compressed container)."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(40)
    png = multimodal.decode_png(multimodal.synthesize_png(docs)).collect()
    ppm = multimodal.decode_ppm(multimodal.synthesize_ppm(docs)).collect()
    as_map = lambda rows: {r["media_id"]: tuple(r) for r in rows}
    assert as_map(png) == as_map(ppm)


# --- GIF (LZW + palette + interlace, stdlib-only) ---


def test_gif_golden_minimal_fixture():
    """The canonical hand-assembled 1x1 white GIF (documented minimal
    example): clear + pixel-0 + end at 3-bit codes, palette FFFFFF."""
    blob = bytes(
        [
            0x47, 0x49, 0x46, 0x38, 0x39, 0x61,  # GIF89a
            0x01, 0x00, 0x01, 0x00, 0x80, 0x00, 0x00,  # 1x1, 2-color GCT
            0xFF, 0xFF, 0xFF, 0x00, 0x00, 0x00,  # palette: white, black
            0x2C, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
            0x02, 0x02, 0x44, 0x01, 0x00, 0x3B,  # min=2, data 44 01
        ]
    )
    w, h, arr = multimodal.parse_gif_bytes(blob)
    assert (w, h) == (1, 1)
    assert list(arr) == [255, 255, 255]


def test_gif_lzw_roundtrip_with_code_growth():
    """>256 distinct patterns force code widths past 9 bits; the
    decoder must track the encoder's width bumps exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    idx = rng.randint(0, 256, size=40 * 30).astype(np.uint8)
    blob = multimodal.encode_gif_bytes(40, 30, idx)
    w, h, arr = multimodal.parse_gif_bytes(blob)
    assert (w, h) == (40, 30)
    # grayscale palette: every pixel expands to (v, v, v)
    assert (arr[0::3] == idx.astype(np.int64)).all()
    assert (arr[1::3] == idx.astype(np.int64)).all()


def test_gif_interlace_roundtrip():
    import numpy as np

    idx = (np.arange(6 * 11) % 256).astype(np.uint8)
    plain = multimodal.encode_gif_bytes(6, 11, idx, interlace=False)
    inter = multimodal.encode_gif_bytes(6, 11, idx, interlace=True)
    assert plain != inter  # rows genuinely reordered on the wire
    _, _, a1 = multimodal.parse_gif_bytes(plain)
    _, _, a2 = multimodal.parse_gif_bytes(inter)
    assert (a1 == a2).all()  # deinterlace restores raster order


def test_gif_extension_blocks_skipped():
    import numpy as np

    idx = np.zeros(4, dtype=np.uint8)
    blob = bytearray(multimodal.encode_gif_bytes(2, 2, idx))
    # splice a Graphic Control Extension before the image descriptor
    img_at = blob.index(0x2C, 13 + 768)
    gce = bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])
    patched = bytes(blob[:img_at]) + gce + bytes(blob[img_at:])
    w, h, arr = multimodal.parse_gif_bytes(patched)
    assert (w, h) == (2, 2) and list(arr[:3]) == [0, 0, 0]


def test_gif_garbage_rejected():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        multimodal.parse_gif_bytes(b"JFIFnotagif.....")


# --- JPEG (baseline grayscale: Huffman + DCT, T.81 subset) ---


def test_jpeg_flat_blocks_roundtrip_bit_exact():
    """Flat 8x8 blocks carry only a DC coefficient the flat-8 quant
    divides exactly: the lossy pipeline becomes bit-exact (the
    property the oracle gate relies on)."""
    import numpy as np

    w, h = 24, 16
    img = np.zeros((h, w))
    for by in range(2):
        for bx in range(3):
            img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                7 + (by * 3 + bx) * 13
            ) % 256
    rw, rh, arr = multimodal.parse_jpeg_gray(
        multimodal.encode_jpeg_gray(w, h, img)
    )
    assert (rw, rh) == (w, h)
    assert (arr == img.astype("int64").ravel()).all()


def test_jpeg_arbitrary_content_within_quant_error():
    """Non-flat content (all 64 coefficients active, ZRL runs, DC
    prediction across blocks, odd dimensions with edge padding) must
    round-trip within the quantization error bound."""
    import numpy as np

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(17, 23)).astype(float)
    rw, rh, arr = multimodal.parse_jpeg_gray(
        multimodal.encode_jpeg_gray(23, 17, img)
    )
    assert (rw, rh) == (23, 17)
    assert np.abs(arr.reshape(17, 23) - img).max() <= 12


def test_jpeg_byte_stuffing_and_markers():
    """A gradient image whose entropy stream contains 0xFF bytes must
    decode (stuffed 0x00 handling), and garbage is rejected loudly."""
    import numpy as np
    import pytest as _pytest

    img = np.tile(np.arange(32, dtype=float), (8, 1))
    rw, rh, arr = multimodal.parse_jpeg_gray(
        multimodal.encode_jpeg_gray(32, 8, img)
    )
    assert (rw, rh) == (32, 8)
    with _pytest.raises(ValueError, match="SOI"):
        multimodal.parse_jpeg_gray(b"\x89PNG....")
    # progressive (SOF2) routed to its own parser by name, never
    # mis-decoded by the baseline walk
    blob = bytearray(multimodal.encode_jpeg_gray(8, 8, np.zeros((8, 8))))
    sof = blob.index(b"\xff\xc0")
    blob[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        multimodal.parse_jpeg_gray(bytes(blob))


def test_jpeg_dc_category_boundaries():
    """Max-contrast checkerboard of flat blocks (0 vs 255) exercises
    the largest DC differences (category 8 values +-255)."""
    import numpy as np

    w, h = 32, 16
    img = np.zeros((h, w))
    for by in range(2):
        for bx in range(4):
            img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                255 if (bx + by) % 2 else 0
            )
    rw, rh, arr = multimodal.parse_jpeg_gray(
        multimodal.encode_jpeg_gray(w, h, img)
    )
    assert (arr == img.astype("int64").ravel()).all()


def test_jpeg_color_flat_blocks_bit_exact():
    """3-component interleaved MCUs with per-component DC prediction;
    flat YCbCr blocks decode bit-exactly and convert to RGB with the
    libjpeg fixed-point integer transform."""
    import numpy as np

    w, h = 24, 16

    def plane(base, step):
        p = np.zeros((h, w))
        for by in range(2):
            for bx in range(3):
                p[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                    base + (by * 3 + bx) * step
                ) % 256
        return p

    y, cb, cr = plane(40, 17), plane(90, 29), plane(150, 31)
    rw, rh, rgb = multimodal.parse_jpeg_color(
        multimodal.encode_jpeg_ycbcr(w, h, y, cb, cr)
    )
    assert (rw, rh) == (w, h)
    yf, cbf, crf = (p.ravel().astype("int64") for p in (y, cb, cr))
    import numpy as _np

    M = multimodal._YCC_MAX
    r = _np.clip(yf * 65536 + 91881 * (crf - 128) + 32768, 0, M) >> 16
    g = _np.clip(
        yf * 65536 - 22554 * (cbf - 128) - 46802 * (crf - 128) + 32768, 0, M
    ) >> 16
    b = _np.clip(yf * 65536 + 116130 * (cbf - 128) + 32768, 0, M) >> 16
    assert (rgb == _np.stack([r, g, b], axis=1).ravel()).all()


def test_jpeg_color_rejects_bad_sampling_and_truncation():
    import numpy as np
    import pytest as _pytest

    blob = bytearray(
        multimodal.encode_jpeg_ycbcr(
            8, 8, *(np.zeros((8, 8)) for _ in range(3))
        )
    )
    sof = blob.index(b"\xff\xc0")
    # factors outside 1..2 are rejected loudly (4:1:1 etc.)
    bad = bytearray(blob)
    bad[sof + 11] = 0x41
    with _pytest.raises(ValueError, match="sampling"):
        multimodal.parse_jpeg_color(bytes(bad))
    # claiming MORE blocks than the stream holds fails loudly, never
    # silently mis-decodes
    trunc = bytearray(blob)
    trunc[sof + 11] = 0x22
    with _pytest.raises(ValueError, match="exhausted|Huffman"):
        multimodal.parse_jpeg_color(bytes(trunc))


def test_jpeg_gray_files_decode_through_color_api():
    import numpy as np

    img = np.full((8, 8), 77.0)
    w, h, rgb = multimodal.parse_jpeg_color(
        multimodal.encode_jpeg_gray(8, 8, img)
    )
    assert list(rgb[:6]) == [77, 77, 77, 77, 77, 77]


def test_jpeg_420_subsampled_flat_macroblocks_bit_exact():
    """4:2:0: MCU = four Y blocks + one Cb + one Cr; chroma flat per
    16x16 macroblock survives the box downsample + nearest upsample
    exactly, with per-component DC prediction across the MCU grid."""
    import numpy as np

    w, h = 32, 32

    def plane(base, step, cell):
        p = np.zeros((h, w))
        for by in range(h // cell):
            for bx in range(w // cell):
                p[by * cell : (by + 1) * cell, bx * cell : (bx + 1) * cell] = (
                    base + (by * (w // cell) + bx) * step
                ) % 256
        return p

    y, cb, cr = plane(40, 17, 8), plane(90, 29, 16), plane(150, 31, 16)
    rw, rh, rgb = multimodal.parse_jpeg_color(
        multimodal.encode_jpeg_ycbcr(w, h, y, cb, cr, subsample_420=True)
    )
    assert (rw, rh) == (w, h)
    yf, cbf, crf = (p.ravel().astype("int64") for p in (y, cb, cr))
    import numpy as _np

    M = multimodal._YCC_MAX
    r = _np.clip(yf * 65536 + 91881 * (crf - 128) + 32768, 0, M) >> 16
    g = _np.clip(
        yf * 65536 - 22554 * (cbf - 128) - 46802 * (crf - 128) + 32768, 0, M
    ) >> 16
    b = _np.clip(yf * 65536 + 116130 * (cbf - 128) + 32768, 0, M) >> 16
    assert (rgb == _np.stack([r, g, b], axis=1).ravel()).all()


def test_jpeg_420_partial_mcu_dimensions():
    """Dimensions that are not MCU multiples (20x12 with 16x16 MCUs)
    pad on the wire and crop on decode."""
    import numpy as np

    w, h = 20, 12
    y = np.full((h, w), 100.0)
    cb = np.full((h, w), 60.0)
    cr = np.full((h, w), 200.0)
    rw, rh, rgb = multimodal.parse_jpeg_color(
        multimodal.encode_jpeg_ycbcr(w, h, y, cb, cr, subsample_420=True)
    )
    assert (rw, rh) == (w, h) and len(rgb) == w * h * 3
    # flat everywhere: one distinct RGB triple
    assert len({tuple(rgb[i : i + 3]) for i in range(0, len(rgb), 3)}) == 1


def test_dhash_invariances(spark):
    """dHash must be invariant to uniform brightness shift (gradient
    comparisons unchanged) and sensitive to gradient reversal."""
    import numpy as np

    from commoncrawl_crawler_spark.operators import multimodal as mm

    def ppm(mid, pixels, w, h):
        header = f"P6\n{w} {h}\n255\n".encode("ascii")
        return (mid, "image/x-portable-pixmap",
                header + pixels.astype(np.uint8).tobytes())

    w, h = 18, 16
    base = np.tile(np.linspace(10, 200, w).astype(np.int64).repeat(3), h)
    rows = [
        ppm(0, base, w, h),
        ppm(1, np.minimum(base + 40, 255), w, h),  # brightness shift
        ppm(2, base[::-1].copy(), w, h),           # reversed gradient
    ]
    media = spark.createDataFrame(rows, ["media_id", "mime", "content"])
    got = {r["media_id"]: (r["dhash_hi"], r["dhash_lo"])
           for r in mm.image_dhash(media).collect()}
    assert got[0] == got[1], "brightness shift must not change dHash"
    assert got[0] != got[2], "gradient reversal must change dHash"
    groups = mm.image_dhash_dup_groups(media).collect()
    assert len(groups) == 1 and groups[0]["n_images"] == 2
    assert groups[0]["min_media_id"] == 0


# --- progressive JPEG (SOF2) -------------------------------------------


def test_progressive_decode_matches_baseline_bit_for_bit():
    """The differential contract: baseline and progressive encodings
    carry IDENTICAL quantized coefficients, so both decoders must
    produce identical pixels for ANY image -- random content, odd
    dimensions, flat, gradients (long EOB runs + refinement bits)."""
    import numpy as np

    rng = np.random.default_rng(1234)
    shapes = [(8, 8), (16, 8), (13, 11), (40, 9), (64, 64)]
    for w, h in shapes:
        img = rng.integers(0, 256, size=(h, w)).astype(np.float64)
        wb, hb, a = multimodal.parse_jpeg_gray(
            multimodal.encode_jpeg_gray(w, h, img)
        )
        wp, hp, b = multimodal.parse_jpeg_gray_progressive(
            multimodal.encode_jpeg_gray_progressive(w, h, img)
        )
        assert (wb, hb) == (wp, hp) == (w, h)
        assert np.array_equal(a, b), (w, h)
    # smooth gradient: most blocks end in long EOBRUNs, every
    # refinement branch (ZRL, correction bits, EOBn extension) fires
    img = np.add.outer(np.arange(48) * 2.0, np.arange(80) * 1.5) % 256
    _, _, a = multimodal.parse_jpeg_gray(
        multimodal.encode_jpeg_gray(80, 48, img)
    )
    _, _, b = multimodal.parse_jpeg_gray_progressive(
        multimodal.encode_jpeg_gray_progressive(80, 48, img)
    )
    assert np.array_equal(a, b)


def test_progressive_flat_blocks_exact_and_marker_routing():
    import numpy as np
    import pytest

    img = np.full((16, 21), 200.0)
    blob = multimodal.encode_jpeg_gray_progressive(21, 16, img)
    w, h, arr = multimodal.parse_jpeg_gray_progressive(blob)
    assert (w, h) == (21, 16)
    assert set(arr.tolist()) == {200}
    # the baseline parser routes SOF2 loudly instead of mis-decoding
    with pytest.raises(ValueError, match="progressive"):
        multimodal.parse_jpeg_gray(blob)
    # and the progressive parser rejects baseline files symmetrically
    base = multimodal.encode_jpeg_gray(21, 16, img)
    with pytest.raises(ValueError, match="not progressive"):
        multimodal.parse_jpeg_gray_progressive(base)


def test_progressive_decode_operator_over_spark(spark):
    import numpy as np

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = multimodal.decode_jpeg_progressive(
        multimodal.synthesize_jpeg_progressive(docs)
    ).collect()
    assert len(rows) == 40
    for r in rows:
        mid = r["media_id"]
        w = 8 * (1 + mid % 3) + mid % 5
        h = 8 * (1 + mid % 2)
        assert (r["width"], r["height"]) == (w, h)
        bw = (w + 7) // 8
        vals = [(mid * 7 + i * 13) % 256 for i in range(bw * (h // 8))]
        total = sum(
            v * 8 * ((w - 8 * (bw - 1)) if (i % bw) == bw - 1 else 8)
            for i, v in enumerate(vals)
        )
        assert r["sum_r"] == total
        assert r["min_px"] == min(vals) and r["max_px"] == max(vals)


def test_progressive_color_matches_baseline_bit_for_bit():
    """Color differential: 4:4:4 and 4:2:0, random planes, odd
    dimensions -- the progressive multi-scan path (interleaved DC,
    per-component AC bands, refinement correction bits crossing ZRL
    spans) must reproduce the baseline decode exactly."""
    import numpy as np

    rng = np.random.default_rng(99)
    for w, h, sub in [(8, 8, False), (24, 16, False), (13, 11, False),
                      (16, 16, True), (40, 18, True), (17, 13, True)]:
        y, cb, cr = (
            rng.integers(0, 256, size=(h, w)).astype(np.float64)
            for _ in range(3)
        )
        _, _, a = multimodal.parse_jpeg_color(
            multimodal.encode_jpeg_ycbcr(w, h, y, cb, cr,
                                         subsample_420=sub)
        )
        _, _, b = multimodal.parse_jpeg_color_progressive(
            multimodal.encode_jpeg_ycbcr_progressive(
                w, h, y, cb, cr, subsample_420=sub
            )
        )
        assert np.array_equal(a, b), (w, h, sub)


def test_bmp_roundtrip_and_row_padding():
    import numpy as np

    from commoncrawl_crawler_spark.operators.multimodal import (
        encode_bmp_bytes,
        parse_bmp_bytes,
    )

    # w=5 -> 15-byte rows pad to 16: padding must never leak into pixels
    rgb = (np.arange(5 * 3 * 3) * 7 % 256).astype(np.int64)
    blob = encode_bmp_bytes(5, 3, rgb)
    w, h, flat = parse_bmp_bytes(blob)
    assert (w, h) == (5, 3) and (flat == rgb).all()


def test_bmp_top_down_and_rejections():
    import struct

    import numpy as np
    import pytest

    from commoncrawl_crawler_spark.operators.multimodal import (
        encode_bmp_bytes,
        parse_bmp_bytes,
    )

    blob = encode_bmp_bytes(4, 3, np.arange(36) % 256)
    td = bytearray(blob)
    td[22:26] = struct.pack("<i", -3)  # top-down flag flips row order
    ref = parse_bmp_bytes(blob)[2].reshape(3, 4, 3)[::-1].reshape(-1)
    assert (parse_bmp_bytes(bytes(td))[2] == ref).all()
    with pytest.raises(ValueError, match="not a BMP"):
        parse_bmp_bytes(b"PNG" + blob[2:])
    with pytest.raises(NotImplementedError, match="BI_RGB"):
        bad = bytearray(blob)
        bad[28:30] = struct.pack("<H", 8)  # 8bpp palette
        parse_bmp_bytes(bytes(bad))
    with pytest.raises(ValueError, match="truncated BMP"):
        parse_bmp_bytes(blob[:-8])


def test_bmp_ppm_twins_decode_identically(spark, sf_smoke):
    from commoncrawl_crawler_spark.operators import multimodal as M
    from commoncrawl_crawler_spark.sources import load_table

    docs = load_table(spark, "documents", sf_smoke).limit(6)
    a = sorted(
        M.decode_ppm(M.synthesize_ppm(docs)).collect(),
        key=lambda r: r.media_id,
    )
    b = sorted(
        M.decode_bmp(M.synthesize_bmp(docs)).collect(),
        key=lambda r: r.media_id,
    )
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
