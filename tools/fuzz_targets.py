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

from commoncrawl_crawler_spark.operators import multimodal as mm
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
