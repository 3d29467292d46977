"""ISO BMFF (MP4) demux + MPEG-audio framing tests.

The muxer/demuxer pair is validated structurally (roundtrip of every
sample table), against the in-repo JPEG kernel (real video-frame
decode), and against malformed input (truncation, bad sizes, lost
sync) -- the failure modes a 100 TB crawl of real-world media hits
constantly.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from commoncrawl_crawler_spark.operators import container as C
from commoncrawl_crawler_spark.operators.multimodal import (
    encode_jpeg_gray,
    parse_jpeg_gray,
)


def _flat_frame(w: int, h: int, val: int) -> bytes:
    px = np.full(w * h, val, dtype=np.int64)
    return encode_jpeg_gray(w, h, px)


def _mux(n_frames=3, w=16, h=8, sr=8000, n_samples=100, codec=b"twos"):
    frames = [_flat_frame(w, h, (17 * f) % 256) for f in range(n_frames)]
    pcm = (np.arange(n_samples) * 7 % 4096 - 2048).astype(np.int16)
    return C.encode_mp4_bytes(frames, (w, h), pcm, sr, audio_codec=codec)


def test_mp4_roundtrip_tracks_and_samples():
    blob = _mux()
    tracks = C.parse_mp4_tracks(blob)
    assert [t["handler"] for t in tracks] == ["vide", "soun"]
    v, a = tracks
    assert (v["codec"], v["width"], v["height"]) == ("jpeg", 16, 8)
    assert v["sample_count"] == 3 and v["duration"] == 9000
    assert (a["codec"], a["channels"], a["sample_rate"]) == ("twos", 1, 8000)
    assert a["sample_count"] == 100 and a["duration"] == 100
    # every video sample decodes through the real T.81 kernel
    for f, sample in enumerate(C.extract_track_samples(blob, v)):
        w, h, gray = parse_jpeg_gray(sample)
        assert (w, h) == (16, 8)
        assert (gray == (17 * f) % 256).all()
    raw = b"".join(C.extract_track_samples(blob, a))
    pcm = np.frombuffer(raw, dtype=">i2")
    assert (pcm == (np.arange(100) * 7 % 4096 - 2048)).all()


def test_mp4_two_chunk_video_exercises_stsc_runs():
    """5 frames -> chunks of 3+2; the stsc chunk-run expansion must
    land every sample at the right absolute offset."""
    blob = _mux(n_frames=5)
    v = C.parse_mp4_tracks(blob)[0]
    offs = [o for o, _ in v["samples"]]
    assert offs == sorted(offs) and len(offs) == 5
    sizes = [s for _, s in v["samples"]]
    # contiguity within each chunk (3 then 2)
    assert offs[1] == offs[0] + sizes[0]
    assert offs[2] == offs[1] + sizes[1]
    assert offs[4] == offs[3] + sizes[3]


def test_mp4_sowt_little_endian_pcm():
    blob = _mux(codec=b"sowt")
    a = C.parse_mp4_tracks(blob)[1]
    assert a["codec"] == "sowt"
    raw = b"".join(C.extract_track_samples(blob, a))
    pcm = np.frombuffer(raw, dtype="<i2")
    assert (pcm == (np.arange(100) * 7 % 4096 - 2048)).all()


def test_mp4_largesize_and_size_zero_boxes():
    """64-bit largesize headers and a size==0 run-to-end tail box are
    both legal ISO BMFF encodings the walker must handle."""
    body = b"payload!"
    large = struct.pack(">I", 1) + b"skip" + struct.pack(">Q", 16 + len(body)) + body
    tail = struct.pack(">I", 0) + b"tail" + b"xyz"
    boxes = list(C.walk_boxes(large + tail))
    assert [t for t, _, _ in boxes] == [b"skip", b"tail"]
    tag, b, e = boxes[0]
    assert (large + tail)[b:e] == body
    assert boxes[1][2] == len(large + tail)


def test_mp4_rejects_garbage_and_truncation():
    with pytest.raises(ValueError, match="no moov"):
        C.parse_mp4_tracks(b"\x00" * 64)
    blob = _mux()
    # corrupt the moov size field so the box overruns the buffer
    # (locate moov via the box walk -- mdat payload bytes could
    # coincidentally contain the fourcc)
    moov_at = next(
        b - 8 for t, b, e in C.walk_boxes(blob) if t == b"moov"
    )
    bad = (
        blob[:moov_at]
        + struct.pack(">I", len(blob) * 2)
        + blob[moov_at + 4 :]
    )
    with pytest.raises(ValueError, match="bad box size"):
        C.parse_mp4_tracks(bad)


def test_mp3_framewalk_vbr_and_id3():
    blob = C._mp3_blob(7)
    id3, frames = C.parse_mpeg_audio_frames(blob)
    id3_body, sr_idx, n_frames = C._mp3_params(7)
    assert id3 == 10 + id3_body and len(frames) == n_frames
    sr = C._SAMPLE_RATE_V1[sr_idx]
    for f, fr in enumerate(frames):
        kbps = 128 + 32 * ((7 + f) % 5)
        assert fr["kbps"] == kbps and fr["sample_rate"] == sr
        assert fr["length"] == 144 * kbps * 1000 // sr + (7 + f) % 2
    # offsets are the running sum of lengths after the ID3 tag
    assert frames[0]["offset"] == id3
    assert frames[1]["offset"] == id3 + frames[0]["length"]


def test_mp3_without_id3_tag():
    blob = C._mp3_blob(13)  # 13 % 13 == 0 -> 10-byte ID3 header only
    id3, frames = C.parse_mpeg_audio_frames(blob)
    assert id3 == 10
    # and a stream with the tag stripped entirely still walks
    id3_2, frames_2 = C.parse_mpeg_audio_frames(blob[10:])
    assert id3_2 == 0 and len(frames_2) == len(frames)


def test_mp3_lost_sync_and_truncation_rejected():
    blob = C._mp3_blob(3)
    id3, frames = C.parse_mpeg_audio_frames(blob)
    with pytest.raises(ValueError, match="lost frame sync"):
        C.parse_mpeg_audio_frames(b"\x00\x01" + blob)
    with pytest.raises(ValueError, match="truncated frame"):
        C.parse_mpeg_audio_frames(blob[: frames[-1]["offset"] + 10])
    # free-format (0) and reserved (15) bitrate indices are rejected
    hdr = bytearray(blob[id3 : id3 + 4])
    hdr[2] = (15 << 4) | (hdr[2] & 0x0F)
    with pytest.raises(ValueError, match="bad bitrate"):
        C.parse_mpeg_audio_frames(bytes(hdr) + blob[id3 + 4 :])


def test_mp3_layer1_slot_arithmetic():
    """Layer I frames use 4-byte slots: (12*kbps*1000//sr + pad) * 4."""
    sr = 44100
    kbps = 64  # layer I index 2
    length = (12 * kbps * 1000 // sr + 1) * 4
    hdr = bytes([0xFF, 0xFF, (2 << 4) | (0 << 2) | (1 << 1), 0xC4])
    blob = hdr + bytes(length - 4)
    _, frames = C.parse_mpeg_audio_frames(blob)
    assert frames[0]["layer"] == 1 and frames[0]["length"] == length


def test_mp4_spark_operators_match_formula(spark, sf_smoke):
    from commoncrawl_crawler_spark.sources import load_table

    docs = load_table(spark, "documents", sf_smoke).limit(6)
    media = C.synthesize_mp4(docs)
    demux = {
        (r.media_id, r.track_id): r
        for r in C.demux_mp4(media).collect()
    }
    frames = {r.media_id: r for r in C.decode_mp4_frames(media).collect()}
    audio = {r.media_id: r for r in C.decode_mp4_audio(media).collect()}
    for mid in [r.doc_id for r in docs.select("doc_id").collect()]:
        n_frames, w, h, sr, n_samples = C._mp4_params(mid)
        assert demux[(mid, 1)].sample_count == n_frames
        assert demux[(mid, 2)].sample_rate == sr
        fr = frames[mid]
        bw = w // 8
        exp = sum(
            64 * ((mid * 7 + f * 13 + b * 29) % 256)
            for f in range(n_frames)
            for b in range(bw)
        )
        assert (fr.n_frames, fr.width, fr.sum_px) == (n_frames, w, exp)
        i = np.arange(n_samples)
        assert audio[mid].sum_abs == int(
            np.abs((mid * 31 + i * 17) % 4096 - 2048).sum()
        )


def test_layer1_roundtrip_exact_and_closed_form():
    """Every coded sample decodes to exactly the closed-form
    dequantization of its code -- the gate oracle's arithmetic."""
    for mid in (0, 3, 7):
        blob = C._layer1_blob(mid)
        _, frames = C.parse_mpeg_audio_frames(blob)
        assert [f["layer"] for f in frames] == [1, 1]
        for f, fr in enumerate(frames):
            got = sorted(
                C.decode_mpeg1_layer1_frame(
                    blob[fr["offset"] : fr["offset"] + fr["length"]]
                )
            )
            exp = []
            for g in range(12):
                for sb in range(32):
                    if (sb + mid + f) % 4 != 0:
                        continue
                    nb = 3 + (sb + mid) % 3
                    c = (mid * 7 + f * 11 + sb * 5 + g * 3) % (1 << nb)
                    sf = [2.0, 1.0, 0.5][(sb + f) % 3]
                    s = sf * (
                        2.0 * (c + 1 - (1 << (nb - 1))) / ((1 << nb) - 1)
                    )
                    exp.append((sb, g, s))
            assert got == sorted(exp)


def test_layer1_forbidden_allocation_rejected():
    blob = bytearray(C._layer1_blob(1))
    _, frames = C.parse_mpeg_audio_frames(bytes(blob))
    off = frames[0]["offset"] + 4
    blob[off] = 0xFF  # allocation codes 15,15 for subbands 0-1
    with pytest.raises(ValueError, match="forbidden allocation"):
        C.decode_mpeg1_layer1_frame(
            bytes(blob)[frames[0]["offset"] : frames[0]["offset"]
                        + frames[0]["length"]]
        )


def test_layer1_decoder_refuses_layer3_frames():
    blob = C._mp3_blob(4)  # layer III stream
    _, frames = C.parse_mpeg_audio_frames(blob)
    with pytest.raises(ValueError, match="not layer I"):
        C.decode_mpeg1_layer1_frame(
            blob[frames[0]["offset"] : frames[0]["offset"]
                 + frames[0]["length"]]
        )


def test_layer1_spark_decode_micro_sums(spark, sf_smoke):
    import math

    from commoncrawl_crawler_spark.sources import load_table

    docs = load_table(spark, "documents", sf_smoke).limit(4)
    out = {
        r.media_id: r
        for r in C.decode_layer1(C.synthesize_layer1(docs)).collect()
    }
    for mid in out:
        total = 0
        total_abs = 0
        for f in range(2):
            for g in range(12):
                for sb in range(32):
                    if (sb + mid + f) % 4 != 0:
                        continue
                    nb = 3 + (sb + mid) % 3
                    c = (mid * 7 + f * 11 + sb * 5 + g * 3) % (1 << nb)
                    sf = [2.0, 1.0, 0.5][(sb + f) % 3]
                    s = sf * (
                        2.0 * (c + 1 - (1 << (nb - 1))) / ((1 << nb) - 1)
                    )
                    m = math.floor(s * 1e6 + 0.5)
                    total += m
                    total_abs += abs(m)
        assert out[mid].n_coded == 192
        assert out[mid].sum_micro == total
        assert out[mid].sum_abs_micro == total_abs


def test_exif_both_byte_orders_and_nested_ifd():
    for bo in ("II", "MM"):
        tiff = C.build_exif_tiff(bo, 640, 480, 6, "TestCam", 400, (18, 10))
        meta = C.parse_exif_tiff(tiff)
        assert meta["byte_order"] == bo
        assert (meta[0x0100], meta[0x0101]) == (640, 480)
        assert meta[0x0112] == 6 and meta[0x010F] == "TestCam"
        assert meta[0x8827] == 400 and meta[0x829D] == (18, 10)


def test_exif_marker_walk_skips_other_appn_and_handles_absence():
    jpeg = _flat_frame(8, 8, 30)
    # insert a JFIF APP0 before the Exif APP1
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    tiff = C.build_exif_tiff("II", 8, 8, 1, "X", 100, (1, 1))
    with_exif = C.embed_exif_jpeg(jpeg[:2] + app0 + jpeg[2:], tiff)
    # APP1 lands before APP0 here; either way the walk must find it
    meta = C.extract_exif_from_jpeg(with_exif)
    assert meta[0x010F] == "X"
    assert C.extract_exif_from_jpeg(jpeg) is None  # no Exif at all
    with pytest.raises(ValueError, match="bad TIFF byte order"):
        C.parse_exif_tiff(b"XX" + b"\x00" * 16)


def test_stomped_pointers_and_counts_raise_named_errors():
    """Corrupt fields a fuzz run found leaking TypeError or hanging:
    an Exif IFD pointer of the wrong type or pointing back at its own
    IFD, a required MP4 box that is missing, a stomped trun count."""
    for typ, value in ((5, 8), (4, 8)):  # RATIONAL pointer; self-loop
        tiff = (
            b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
            + struct.pack("<HHII", 0x8769, typ, 1, value)
            + struct.pack("<I", 0)
        )
        with pytest.raises(ValueError, match="bad Exif IFD pointer"):
            C.parse_exif_tiff(tiff)
    blob = C._fmp4_blob(1)
    with pytest.raises(ValueError, match="missing mdia box"):
        C.parse_fmp4_fragments(blob.replace(b"mdia", b"mdix", 1))
    at = blob.index(b"trun") + 8  # past the type and version/flags
    stomped = blob[:at] + b"\xff\xff\xff\xff" + blob[at + 4 :]
    with pytest.raises(ValueError, match="overruns its data"):
        C.parse_fmp4_fragments(stomped)


def test_exif_jpeg_still_decodes():
    from commoncrawl_crawler_spark.operators.multimodal import (
        parse_jpeg_gray as pjg,
    )

    blob = C._exif_blob(5)
    p = C._exif_params(5)
    w, h, gray = pjg(blob)
    assert (w, h) == (p["width"], p["height"])
    assert (gray == (5 * 7) % 256).all()


def test_shot_detection_counts_wraparound_cuts(spark, sf_smoke):
    """Frame values step by +13 mod 256: within-range steps are below
    the 16-level threshold, the modular wrap is a 243-level jump --
    exactly one cut per wrap."""
    from commoncrawl_crawler_spark.sources import load_table

    docs = load_table(spark, "documents", sf_smoke).limit(8)
    out = {
        r.media_id: r
        for r in C.detect_shots(C.synthesize_mp4(docs)).collect()
    }
    for mid, r in out.items():
        n_frames, w, h, _, _ = C._mp4_params(mid)
        bw = w // 8
        m256 = []
        sums = []
        for f in range(n_frames):
            vals = [(mid * 7 + f * 13 + b * 29) % 256 for b in range(bw)]
            sums.append(64 * sum(vals))
            m256.append(sum(vals) * 256 // (bw * 64) * 64 // 4)
        # recompute exactly as the operator: s*256 // npx
        m256 = [s * 256 // (w * h) for s in sums]
        deltas = [abs(b - a) for a, b in zip(m256, m256[1:])]
        assert r.n_frames == n_frames
        assert r.max_delta == (max(deltas) if deltas else 0)
        assert r.n_shots == 1 + sum(1 for dd in deltas if dd > 16 * 256)
        assert r.mean_frame_sum == sum(sums) // len(sums)


def test_fmp4_fragment_walk_and_defaults_chain():
    blob = C._fmp4_blob(4)
    info = C.parse_fmp4_fragments(blob)
    n_frag, per = C._fmp4_params(4)
    assert len(info["fragments"]) == n_frag
    assert info["timescale"] == 90000
    for i, frag in enumerate(info["fragments"]):
        assert frag["seq"] == i + 1
        assert frag["decode_time"] == i * per * 3000
        for j, smp in enumerate(frag["samples"]):
            assert smp["dur"] == 3000  # tfhd default, not per-sample
            assert smp["time"] == (i * per + j) * 3000
            w, h, gray = parse_jpeg_gray(
                blob[smp["offset"] : smp["offset"] + smp["size"]]
            )
            assert (w, h) == (8, 8)


def test_fmp4_requires_mvex_and_moof():
    plain = _mux()  # a non-fragmented MP4
    with pytest.raises(ValueError, match="no mvex"):
        C.parse_fmp4_fragments(plain)
    blob = C._fmp4_blob(1)
    init_end = next(
        e for t, _, e in C.walk_boxes(blob) if t == b"moov"
    )
    with pytest.raises(ValueError, match="without moof"):
        C.parse_fmp4_fragments(blob[:init_end])


def test_corrupt_guard_uniform_valueerror():
    """Random corruption of any container must surface as ValueError
    (the one class a 100 TB scan counts/quarantines), never
    struct.error/TypeError/zlib.error -- fuzzed across all parsers."""
    import random

    from commoncrawl_crawler_spark.functions import dnswire as D
    from commoncrawl_crawler_spark.sources import packfiles as P

    rng = random.Random(7)
    specs = [
        (C._mp4_blob(3), C.parse_mp4_tracks),
        (C._fmp4_blob(3), C.parse_fmp4_fragments),
        (C._mp3_blob(3), C.parse_mpeg_audio_frames),
        (P._tar_blob(3), P.parse_tar_members),
        (P._zip_blob(3), P.parse_zip_members),
        (D._dns_blob(3), D.parse_response),
        (C._exif_blob(3), C.extract_exif_from_jpeg),
    ]
    for blob, fn in specs:
        for _ in range(60):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                op = rng.random()
                if op < 0.5 and b:
                    b[rng.randrange(len(b))] = rng.randrange(256)
                elif op < 0.8 and len(b) > 4:
                    del b[rng.randrange(len(b)) :]
                else:
                    b += bytes(rng.randrange(8))
            try:
                fn(bytes(b))
            except (ValueError, NotImplementedError):
                pass  # the contract


def test_ico_png_and_dib_entries_roundtrip():
    import numpy as np

    blob = C._ico_blob(5)
    es = C.parse_ico_entries(blob)
    assert [e["format"] for e in es] == ["png", "dib"]
    w1 = 4 + 5 % 3
    p = np.arange(w1 * 4 * 3)
    assert int(es[0]["rgb"].sum()) == int(((5 * 5 + p * 7) % 256).sum())
    # DIB entry heights are DOUBLED on disk (XOR+AND); decode halves
    assert es[1]["height"] == 2 + 5 % 2


def test_ico_rejections():
    with pytest.raises(ValueError, match="not an ICO"):
        C.parse_ico_entries(b"\x00\x00\x02\x00\x01\x00" + b"\x00" * 16)
    blob = bytearray(C._ico_blob(1))
    # odd DIB height must be rejected (mask layout impossible)
    import struct

    size, offset = struct.unpack("<II", blob[6 + 16 + 8 : 6 + 16 + 16])
    (h2,) = struct.unpack("<i", blob[offset + 8 : offset + 12])
    blob[offset + 8 : offset + 12] = struct.pack("<i", h2 + 1)
    with pytest.raises(ValueError, match="height not doubled"):
        C.parse_ico_entries(bytes(blob))
    with pytest.raises(ValueError, match="truncated ICO entry"):
        C.parse_ico_entries(bytes(C._ico_blob(1))[:-10])


def test_mp3_id3v1_trailer_tolerated():
    """A 128-byte ID3v1 'TAG' trailer after the last frame is a
    normal real-world ending, not trailing garbage."""
    blob = C._mp3_blob(3)
    trailer = b"TAG" + bytes(125)
    id3, frames = C.parse_mpeg_audio_frames(blob + trailer)
    id3_plain, frames_plain = C.parse_mpeg_audio_frames(blob)
    assert (id3, frames) == (id3_plain, frames_plain)
    # anything else after the last frame still raises
    import pytest as _pt

    with _pt.raises(ValueError, match="sync|garbage|truncated"):
        C.parse_mpeg_audio_frames(blob + b"JUNKJUNK")
    # a short TAG-prefixed tail that is not a full 128-byte trailer
    with _pt.raises(ValueError):
        C.parse_mpeg_audio_frames(blob + b"TAG123")


# ---- Layer II (round-7) ----------------------------------------------


def test_layer2_roundtrip_values_and_scfsi_sharing():
    """decode(encode(params)) must equal an independent computation of
    the requantized samples, including scfsi effective-scalefactor
    sharing (modes 1/2/3 overwrite untransmitted parts)."""
    for mid in (0, 1, 2, 3, 7, 11):
        blob = C._layer2_blob(mid)
        _, frames = C.parse_mpeg_audio_frames(blob)
        assert len(frames) == 1 and frames[0]["layer"] == 2
        got = {
            (sb, g): v
            for sb, g, v in C.decode_mpeg1_layer2_frame(blob)
        }
        alloc, scfsi, sfidx, codes = C._layer2_params(mid)
        n_expected = 0
        for sb in range(C._L2_SBLIMIT):
            if not alloc[sb]:
                continue
            _, ladder = C._l2_table_a(sb)
            n = ladder[alloc[sb] - 1]
            mode = scfsi[sb]
            s0, s1, s2 = sfidx[sb]
            eff = {
                0: [s0, s1, s2],
                1: [s0, s0, s2],
                2: [s0, s0, s0],
                3: [s0, s1, s1],
            }[mode]
            for g in range(12):
                for t in range(3):
                    c = codes[g][sb][t]
                    want = C.layer1_scalefactor(eff[g // 4]) * (
                        (2.0 * c + 1.0 - n) / n
                    )
                    assert got[(sb, 3 * g + t)] == want, (mid, sb, g, t)
                    n_expected += 1
        assert len(got) == n_expected


def test_layer2_grouping_packs_base_n():
    """A 3-level subband triplet travels in one 5-bit base-3 word."""
    alloc = [0] * 27
    scfsi = [0] * 27
    sfidx = [[0, 0, 0] for _ in range(27)]
    codes = [[(0, 0, 0)] * 27 for _ in range(12)]
    alloc[0] = 1  # ladder A index 1 -> 3 levels (grouped)
    codes[0][0] = (2, 1, 0)  # packed: 2 + 3*1 + 9*0 = 5
    blob = C.encode_mpeg1_layer2_frame(alloc, scfsi, sfidx, codes)
    vals = {g: v for sb, g, v in C.decode_mpeg1_layer2_frame(blob)
            if g < 3}
    n = 3
    assert vals[0] == 2.0 * (2 * 2 + 1 - n) / n
    assert vals[1] == 2.0 * (2 * 1 + 1 - n) / n
    assert vals[2] == 2.0 * (2 * 0 + 1 - n) / n


def test_layer2_rejects_wrong_layer_and_bad_group():
    import pytest as _pt

    blob1 = C._layer1_blob(1)
    with _pt.raises(ValueError, match="not layer II"):
        C.decode_mpeg1_layer2_frame(blob1)
    blob2 = C._layer2_blob(0)
    with _pt.raises(ValueError, match="not layer I"):
        C.decode_mpeg1_layer1_frame(blob2)


def test_layer2_spark_decode_matches_driver(spark):
    import math

    docs = spark.range(10).selectExpr("id AS doc_id", "'x' AS text")
    got = {
        r["media_id"]: (
            r["n_frames"], r["n_coded"], r["sum_micro"],
            r["sum_abs_micro"],
        )
        for r in C.decode_layer2(C.synthesize_layer2(docs)).collect()
    }
    for mid in range(10):
        blob = C._layer2_blob(mid)
        samples = C.decode_mpeg1_layer2_frame(blob)
        micros = [math.floor(s * 1e6 + 0.5) for _, _, s in samples]
        assert got[mid] == (
            1, len(micros), sum(micros), sum(abs(m) for m in micros)
        ), mid


def test_id3v2_text_frames_roundtrip_and_encodings():
    frames = [("TIT2", "Ti tle"), ("TPE1", "Art"), ("TXXX", "x")]
    for enc in (0, 3):
        tag = C.build_id3v2(frames, encoding=enc)
        got = C.parse_id3v2_frames(tag + C._mp3_blob(0)[C._id3v2_size(C._mp3_blob(0)):])
        assert [(f["frame_id"], f["text"]) for f in got] == frames
    # utf-16 with BOM decodes too
    payload = bytes([1]) + "uni".encode("utf-16")
    body = b"TIT2" + len(payload).to_bytes(4, "big") + b"\x00\x00" + payload
    size = len(body)
    tag = b"ID3\x03\x00\x00" + bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
         (size >> 7) & 0x7F, size & 0x7F]
    ) + body
    got = C.parse_id3v2_frames(tag)
    assert got == [{"frame_id": "TIT2", "text": "uni"}]
    # frame overrunning the tag raises
    bad = bytearray(C.build_id3v2([("TIT2", "x")]))
    bad[14:18] = (999).to_bytes(4, "big")
    import pytest as _pt

    with _pt.raises(ValueError, match="overruns"):
        C.parse_id3v2_frames(bytes(bad))


def test_mp3_sideinfo_roundtrip_and_validation():
    import pytest as _pt

    for mid in range(8):
        blob = C._mp3si_blob(mid)
        _, frames = C.parse_mpeg_audio_frames(blob)
        for f, fr in enumerate(frames):
            si = C.parse_mp3_sideinfo_mono(blob[fr["offset"] + 4 :])
            assert si["main_data_begin"] == (mid * 17 + f * 3) % 512
            for g in range(2):
                want = C._mp3si_granule(mid, f, g)
                got = si["granules"][g]
                for k, v in want.items():
                    assert got[k] == v, (mid, f, g, k)
    # forbidden: block_type 0 while window switching
    bad = C.encode_mp3_sideinfo_mono(
        0, 0,
        [dict(C._mp3si_granule(1, 0, 0)), dict(C._mp3si_granule(1, 0, 1))],
    )
    g0 = C._mp3si_granule(0, 1, 0)  # ws=1
    assert g0["window_switching"] == 1
    g0 = dict(g0)
    g0["block_type"] = 0
    raw = C.encode_mp3_sideinfo_mono(0, 0, [g0, C._mp3si_granule(0, 1, 1)])
    with _pt.raises(ValueError, match="block_type 0"):
        C.parse_mp3_sideinfo_mono(raw)


def test_layer2_crc_protected_frame_skips_crc_bytes():
    """protection_bit=0 (ISO 11172-3 2.4.2.3) inserts a 16-bit CRC
    between header and audio data; the decoder must skip it, yielding
    the same samples as the CRC-free build of the same frame."""
    blob = C._layer2_blob(5)
    want = C.decode_mpeg1_layer2_frame(blob)
    # rewrite: clear protection_bit (b1 bit0 -> 0 means CRC PRESENT)
    # and splice two CRC bytes after the 4-byte header
    crc_frame = bytes([blob[0], blob[1] & 0xFE, blob[2], blob[3]]) \
        + b"\xBE\xEF" + blob[4:]
    got = C.decode_mpeg1_layer2_frame(crc_frame)
    assert got == want


def test_id3v24_syncsafe_frame_sizes_differential():
    """v2.3 (plain 32-bit frame sizes) and v2.4 (syncsafe) tags with
    identical frames parse identically -- incl. a frame long enough
    (200 bytes) that the two size encodings differ on the wire."""
    frames = [("TIT2", "t" * 200), ("TPE1", "artist"), ("TALB", "a")]
    for enc in (0, 3):
        a = C.parse_id3v2_frames(
            C.build_id3v2(frames, encoding=enc, version=3)
        )
        b = C.parse_id3v2_frames(
            C.build_id3v2(frames, encoding=enc, version=4)
        )
        assert a == b
        assert [f["text"] for f in a][0] == "t" * 200
    # v2.4 frame sizes with the high bit set are a loud error
    bad = bytearray(C.build_id3v2([("TIT2", "x")], version=4))
    bad[14] = 0x80  # first frame size byte
    with pytest.raises(ValueError, match="non-syncsafe"):
        C.parse_id3v2_frames(bytes(bad))
    with pytest.raises(ValueError, match="not supported"):
        C.build_id3v2([("TIT2", "x")], version=2)


def test_mpeg2_lsf_framing():
    """MPEG-2/2.5 LSF: half sample rates, the ISO 13818-3 V2 bitrate
    table, 72-slot layer-III frames, 576 samples per frame."""
    for mid in range(15):
        version, sri, n = C._mpeg2_params(mid)
        _, frames = C.parse_mpeg_audio_frames(C._mpeg2_blob(mid))
        assert len(frames) == n
        sr = (C._SAMPLE_RATE_V2 if version == 2
              else C._SAMPLE_RATE_V25)[sri]
        for f_i, fr in enumerate(frames):
            assert fr["version"] == version
            kbps = C._BITRATE_V2[3][2 + (mid + f_i) % 8]
            assert fr["kbps"] == kbps
            assert fr["length"] == 72 * kbps * 1000 // sr
            assert C.mpeg_samples_per_frame(fr["version"], 3) == 576
    # reserved version bits (01) are a loud error
    blob = bytearray(C._mpeg2_blob(1))
    blob[1] = (blob[1] & ~0x18) | 0x08
    with pytest.raises(ValueError, match="reserved MPEG version"):
        C.parse_mpeg_audio_frames(bytes(blob))


def test_lsf_frames_rejected_by_mpeg1_decoders():
    """The MPEG-1-only sample decoders must refuse LSF frames loudly
    instead of requantizing with the wrong tables."""
    blob = C._mpeg2_blob(1)  # layer III, version 2
    _, frames = C.parse_mpeg_audio_frames(blob)
    frame = blob[: frames[0]["length"]]
    # layer II LSF: flip layer bits on a V2 header
    l2 = bytes([frame[0], (frame[1] & ~0x06) | 0x04]) + frame[2:]
    with pytest.raises(NotImplementedError, match="LSF"):
        C.decode_mpeg1_layer2_frame(l2)
