"""Mutation-fuzz target registry: every binary/text parser entry
point in the package, paired with a deterministic seed builder.

The contract under fuzz (see operators/parseguard.py and
tests/test_fuzz_parsers.py): a parser handed corrupt bytes must
return a value (None included) or raise a NAMED error (ValueError /
NotImplementedError) -- never leak an implementation exception and
never hang.  Reference analog: the crawler's ParserMapper survives
arbitrary crawled bytes (reference src/mapred/ec2/parser), so every
decoder this engine exposes must too.

Each target is (seeds, parse): `seeds()` returns a list of clean
blobs built by the same synthesizers/encoders the gates use; `parse`
is the byte-level entry point (composite where the DF operator
chains several parsers, so the fuzz walks the same code path).
"""

from __future__ import annotations

import gzip
import sys
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from commoncrawl_crawler_spark.operators import container as ct
from commoncrawl_crawler_spark.operators import mediameta as md
from commoncrawl_crawler_spark.operators import multimodal as mm
from commoncrawl_crawler_spark.operators import videobits as vb
from commoncrawl_crawler_spark.sources import archive as ar
from commoncrawl_crawler_spark.sources import packfiles as pk

TARGETS: dict[str, tuple] = {}


def _target(name: str, seeds, parse) -> None:
    TARGETS[name] = (seeds, parse)


def _gray(w: int, h: int, mid: int = 1) -> np.ndarray:
    p = np.arange(w * h, dtype=np.int64)
    return ((mid * 3 + p * 5) % 256).astype(np.uint8).reshape(h, w)


def _rgb_flat(w: int, h: int, mid: int = 1) -> np.ndarray:
    p = np.arange(w * h * 3, dtype=np.int64)
    return ((mid * 3 + p * 5) % 256).astype(np.uint8)


# --- images ---------------------------------------------------------

def _wav_seed(mid: int) -> bytes:
    import struct

    n = 1024 + mid % 1024
    i = np.arange(n, dtype=np.int64)
    samples = ((mid * 7 + i * 13) % 256).astype(np.uint8)
    return (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", n) + samples.tobytes()
    )


_target("wav", lambda: [_wav_seed(m) for m in (1, 2)], mm.parse_wav_bytes)

_target(
    "wav_adpcm",
    lambda: [
        mm.encode_wav_adpcm(
            ((np.arange(1024) // 505 * 37 + m * 13) % 4096) - 2048,
            reset_index_per_block=True,
        )
        for m in (1, 2)
    ],
    mm.parse_wav_adpcm,
)

_target(
    "ppm",
    lambda: [
        b"P6\n12 9\n255\n" + _rgb_flat(12, 9).tobytes(),
        b"P6\n8 6\n255\n" + _rgb_flat(8, 6, 5).tobytes(),
    ],
    mm.parse_ppm_bytes,
)

_target(
    "png",
    lambda: [
        mm.encode_png_bytes(
            12, 9, _rgb_flat(12, 9), filter_for_row=lambda r: r % 5
        ),
        mm.encode_png_bytes(
            8, 6, _rgb_flat(8, 6, 5), filter_for_row=lambda r: (r + 2) % 5
        ),
    ],
    mm.parse_png_bytes,
)

_target(
    "jpeg_gray",
    lambda: [mm.encode_jpeg_gray(16, 16, _gray(16, 16))],
    mm.parse_jpeg_gray,
)

_target(
    "jpeg_color",
    lambda: [
        mm.encode_jpeg_ycbcr(
            16, 16, _gray(16, 16), _gray(16, 16, 2), _gray(16, 16, 3)
        ),
        mm.encode_jpeg_ycbcr(
            16, 16, _gray(16, 16), _gray(16, 16, 2), _gray(16, 16, 3),
            subsample_420=True,
        ),
    ],
    mm.parse_jpeg_color,
)

_target(
    "jpeg_gray_progressive",
    lambda: [mm.encode_jpeg_gray_progressive(16, 16, _gray(16, 16))],
    mm.parse_jpeg_gray_progressive,
)

_target(
    "jpeg_color_progressive",
    lambda: [
        mm.encode_jpeg_ycbcr_progressive(
            16, 16, _gray(16, 16), _gray(16, 16, 2), _gray(16, 16, 3)
        )
    ],
    mm.parse_jpeg_color_progressive,
)

_target(
    "gif",
    lambda: [
        mm.encode_gif_bytes(12, 9, _gray(12, 9).ravel()),
        mm.encode_gif_bytes(12, 9, _gray(12, 9).ravel(), interlace=True),
    ],
    mm.parse_gif_bytes,
)

_target(
    "bmp",
    lambda: [mm.encode_bmp_bytes(12, 9, _rgb_flat(12, 9))],
    mm.parse_bmp_bytes,
)

# --- containers / audio ---------------------------------------------

_target(
    "mp4",
    lambda: [ct._mp4_blob(m) for m in (1, 2)],
    ct.parse_mp4_tracks,
)

_target(
    "fmp4",
    lambda: [ct._fmp4_blob(m) for m in (1, 2)],
    ct.parse_fmp4_fragments,
)

_target(
    "mpeg_audio_framing",
    lambda: [ct._mp3_blob(1), ct._mpeg2_blob(1)],
    ct.parse_mpeg_audio_frames,
)


def _decode_mpeg_layers(blob: bytes):
    """Framing walk + per-frame sample decode -- the decode_layer1/2
    DF path below the Arrow batching."""
    skip, frames = ct.parse_mpeg_audio_frames(blob)
    out = []
    for fr in frames:
        frame = blob[fr["offset"] : fr["offset"] + fr["length"]]
        if fr["layer"] == 1:
            out.append(ct.decode_mpeg1_layer1_frame(frame))
        elif fr["layer"] == 2:
            out.append(ct.decode_mpeg1_layer2_frame(frame))
    return out


_target(
    "mpeg_layer12_decode",
    lambda: [ct._layer1_blob(1), ct._layer2_blob(1)],
    _decode_mpeg_layers,
)

def _mp3si_seed(mid: int) -> bytes:
    # side-info body = everything after the 4-byte frame header
    return ct._mp3si_blob(mid)[4:25]


_target(
    "mp3_sideinfo",
    lambda: [_mp3si_seed(1), _mp3si_seed(2)],
    ct.parse_mp3_sideinfo_mono,
)

_target(
    "exif_tiff",
    lambda: [
        ct.build_exif_tiff("II", 640, 480, 1, "maker", 100, (28, 10)),
        ct.build_exif_tiff("MM", 320, 240, 6, "other", 400, (18, 10)),
    ],
    ct.parse_exif_tiff,
)

_target(
    "ico",
    lambda: [ct._ico_blob(m) for m in (1, 2)],
    ct.parse_ico_entries,
)

_target(
    "id3v2",
    lambda: [ct._id3_mp3_blob(m) for m in (1, 2)],
    ct.parse_id3v2_frames,
)

# --- media metadata --------------------------------------------------

_target(
    "flac_streaminfo",
    lambda: [md._flac_blob(m) for m in (1, 2)],
    md.parse_flac_streaminfo,
)

_target(
    "flac_frames",
    lambda: [md._flac_frames_blob(m) for m in (1, 2, 3)],
    md.scan_flac_frames,
)


def _parse_ogg(blob: bytes):
    pages = md.parse_ogg_pages(blob)
    return [md.parse_id_header(p["payload"]) for p in pages
            if "payload" in p]


_target(
    "ogg",
    lambda: [md._ogg_blob(m) for m in (1, 2)],
    _parse_ogg,
)

_target(
    "opus_toc",
    lambda: [md._opus_packet(m, p) for m in (1, 2) for p in (0, 1, 2)],
    md.parse_opus_toc,
)

_target(
    "webp",
    lambda: [md._webp_blob(m) for m in (1, 2, 3)],
    md.parse_webp,
)

_target(
    "webm",
    lambda: [md._webm_blob(m) for m in (1, 2)],
    md.parse_webm_tracks,
)

_target(
    "heif",
    lambda: [md._heif_blob(m) for m in (1, 2)],
    md.parse_heif,
)

# --- video / AAC bitstreams -----------------------------------------

_target(
    "adts",
    lambda: [vb._adts_blob(m) for m in (1, 2)],
    vb.parse_adts_frames,
)


_target(
    "audio_specific_config",
    lambda: [vb.build_audio_specific_config(2, 4, 2)],
    vb.parse_audio_specific_config,
)


def _parse_aac_elements(blob: bytes):
    frames = vb.parse_adts_frames(blob)
    out = []
    for fr in frames:
        payload = blob[fr["offset"] + 7 : fr["offset"] + fr["length"]]
        out.append(vb.parse_raw_data_block_elements(payload))
    return out


_target(
    "aac_elements",
    lambda: [vb._aac_elements_blob(m) for m in (1, 2)],
    _parse_aac_elements,
)


def _parse_h264_stream(blob: bytes):
    """NAL walk + first-SPS parse -- the h264_stream_stats path
    (that gate's streams carry stub PPSes, so it never full-parses
    type 8)."""
    nals = vb.parse_annexb(blob)
    for nal in nals:
        if nal["nal_type"] == 7:
            s = nal["offset"] + 1
            return vb.parse_sps(
                vb.rbsp_unescape(blob[s : s + nal["ebsp_length"]])
            )
    return None


def _parse_h264_slices(blob: bytes):
    """NAL walk + SPS/PPS/slice-header parse -- the
    h264_slice_stats path below the Arrow batching."""
    nals = vb.parse_annexb(blob)
    sps = None
    out = []
    for nal in nals:
        s = nal["offset"] + 1
        rbsp = vb.rbsp_unescape(blob[s : s + nal["ebsp_length"]])
        t = nal["nal_type"]
        if t == 7:
            sps = vb.parse_sps(rbsp)
            out.append(sps)
        elif t == 8:
            out.append(vb.parse_pps(rbsp))
        elif t in (1, 5) and sps is not None:
            out.append(vb.parse_slice_header(rbsp, sps, t))
    return out


_target(
    "h264_stream",
    lambda: [vb._h264_blob(m) for m in (1, 2)],
    _parse_h264_stream,
)

_target(
    "h264_slices",
    lambda: [vb._h264_slices_blob(m) for m in (1, 2)],
    _parse_h264_slices,
)


def _parse_av1(blob: bytes):
    obus = vb.parse_av1_obus(blob)
    out = []
    for obu in obus:
        if obu.get("obu_type") == 1 and "payload" in obu:
            out.append(vb.parse_av1_sequence_header(obu["payload"]))
    return out


_target(
    "av1",
    lambda: [vb._av1_blob(m) for m in (1, 2)],
    _parse_av1,
)

# --- pack files / text manifests ------------------------------------

_target(
    "tar",
    lambda: [pk._tar_blob(m) for m in (1, 2)],
    pk.parse_tar_members,
)

_target(
    "zip",
    lambda: [pk._zip_blob(m) for m in (1, 2)],
    pk.parse_zip_members,
)

_target(
    "m3u8",
    lambda: [pk._m3u8_text(m).encode("utf-8") for m in (1, 2)],
    lambda b: pk.parse_m3u8(b.decode("utf-8", "replace")),
)

_target(
    "subtitles",
    lambda: [pk._srt_text(1).encode("utf-8"),
             pk._vtt_text(1).encode("utf-8")],
    lambda b: pk.parse_subtitles(b.decode("utf-8", "replace")),
)

# --- web archives ----------------------------------------------------


def _arc_member_seed(mid: int) -> bytes:
    member = ar._arc_record_member(
        f"http://host{mid}.example/p{mid}",
        "10.0.0.7",
        "20080101000000",
        "text/html",
        [("Content-Type", "text/html"), (None, "HTTP/1.1 200 OK")],
        b"<html>doc %d</html>" % mid,
    )
    return gzip.decompress(member)


def _warc_member_seed(mid: int) -> bytes:
    member = ar._warc_record_bytes(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:uuid:{mid:032x}>"),
            ("WARC-Target-URI", f"http://host{mid}.example/"),
            ("WARC-Date", "2008-01-01T00:00:00Z"),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        b"HTTP/1.1 200 OK\r\nContent-Length: 5\r\n\r\nhello",
    )
    return gzip.decompress(member)


_target(
    "arc_member",
    lambda: [_arc_member_seed(m) for m in (1, 2)],
    ar._parse_arc_member,
)

_target(
    "warc_member",
    lambda: [_warc_member_seed(m) for m in (1, 2)],
    ar._parse_warc_member,
)

def _dns_seeds():
    from commoncrawl_crawler_spark.functions import dnswire

    return [dnswire._dns_blob(m) for m in (1, 2, 3)]


def _dns_parse(blob):
    from commoncrawl_crawler_spark.functions import dnswire

    return dnswire.parse_response(blob)


_target("dns_wire", _dns_seeds, _dns_parse)


def _rice_seeds():
    from commoncrawl_crawler_spark.functions import ricecoding

    return [
        ricecoding.rice_encode([1, 5, 9, 200, 3], 3),
        ricecoding.rice_encode(list(range(1, 41)), 6),
    ]


def _rice_parse(blob):
    from commoncrawl_crawler_spark.functions import ricecoding

    return ricecoding.rice_decode(blob)


_target("rice", _rice_seeds, _rice_parse)

_target(
    "http_dechunk",
    lambda: [
        b"5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\n\r\n",
        b"a\r\n0123456789\r\n0\r\nTrailer: v\r\n\r\n",
    ],
    ar.dechunk_bytes,
)
