"""Container metadata parsers: FLAC, Ogg, WebP, Matroska/EBML.

Fourth tier of the media stack (after `container.py` MP4/MPEG-audio,
`videobits.py` ADTS/H.264, `multimodal.py` image codecs): the
remaining container formats a web corpus routinely carries, parsed at
the metadata/framing level a corpus scan actually needs --
dimensions, codecs, channel/rate, duration basis -- with zero
external libraries.  Everything is published wire format:

- **FLAC** (xiph.org format spec): 'fLaC' magic, metadata-block walk
  (1-byte last|type header + 24-bit big-endian length), STREAMINFO
  bit layout (20-bit sample rate, 3-bit channels-1, 5-bit bps-1,
  36-bit total samples, 128-bit unencoded-audio MD5).
- **Ogg** (RFC 3533): page capture pattern 'OggS', 64-bit granule,
  serial/sequence numbers, lacing-value segment table; plus the two
  identification headers that matter on the web -- Vorbis
  ('\\x01vorbis': channels, rate) and Opus ('OpusHead': channels,
  pre-skip, input rate, RFC 7845).
- **WebP** (RIFF container): chunk walk; 'VP8 ' lossy frame header
  (0x9d012a start code, 14-bit dimensions), 'VP8L' lossless
  signature 0x2f with packed 14-bit dimensions, 'VP8X' extended
  header with 24-bit canvas dimensions.
- **Matroska/EBML** (RFC 8794 + matroska.org): variable-length
  element IDs and sizes (leading-zeros length encoding), walked
  through Segment -> Tracks -> TrackEntry for track type, codec id,
  video PixelWidth/PixelHeight, audio SamplingFrequency/Channels --
  the WebM track census.

At 100 TB: same kernel shape as every media tier -- Arrow-batched
mapInPandas over the blob column, fixed-width metadata rows out,
payloads never shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.packfiles import _synthesize_media

from .parseguard import guard
# --------------------------------------------------------------------
# FLAC
# --------------------------------------------------------------------


def build_flac_streaminfo(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    md5_digest: bytes = b"\x00" * 16,
    extra_blocks: list[tuple[int, bytes]] | None = None,
) -> bytes:
    """'fLaC' + STREAMINFO (+ optional extra metadata blocks); no
    audio frames (metadata-only fixture, like a probe would read)."""
    body = bytearray()
    body += struct.pack(">HH", 4096, 4096)  # min/max blocksize
    body += (0).to_bytes(3, "big") + (0).to_bytes(3, "big")  # framesizes
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    body += packed.to_bytes(8, "big")
    body += md5_digest
    assert len(body) == 34
    blocks = [(0, bytes(body))] + list(extra_blocks or [])
    out = bytearray(b"fLaC")
    for i, (btype, data) in enumerate(blocks):
        last = 0x80 if i == len(blocks) - 1 else 0
        out.append(last | btype)
        out += len(data).to_bytes(3, "big")
        out += data
    return bytes(out)


@guard("flac-streaminfo")
def parse_flac_streaminfo(blob: bytes) -> dict:
    """Metadata-block walk; returns STREAMINFO fields plus the block
    census.  Raises on bad magic, truncation, or missing STREAMINFO
    (the spec requires it first)."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream: bad magic")
    pos = 4
    info = None
    n_blocks = 0
    block_types = []
    while True:
        if pos + 4 > len(blob):
            raise ValueError(f"truncated block header at {pos}")
        hdr = blob[pos]
        btype = hdr & 0x7F
        length = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        if pos + 4 + length > len(blob):
            raise ValueError(f"truncated block body at {pos}")
        data = blob[pos + 4 : pos + 4 + length]
        n_blocks += 1
        block_types.append(btype)
        if btype == 0:
            if length != 34:
                raise ValueError(f"STREAMINFO length {length} != 34")
            packed = int.from_bytes(data[10:18], "big")
            info = {
                "sample_rate": (packed >> 44) & 0xFFFFF,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "audio_md5": data[18:34].hex(),
            }
        pos += 4 + length
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("no STREAMINFO block")
    info["n_blocks"] = n_blocks
    info["block_types"] = block_types
    return info


def _flac_params(mid: int) -> tuple[int, int, int, int]:
    """(sample_rate, channels, bits, total_samples), oracle-mirrored."""
    rates = [8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000]
    return (
        rates[mid % 8],
        1 + mid % 2,
        [8, 16, 24][mid % 3],
        100000 + mid * 977,
    )


def _flac_blob(mid: int) -> bytes:
    sr, ch, bps, total = _flac_params(mid)
    digest = bytes((mid * 11 + j) % 256 for j in range(16))
    extra = [(4, b"\x00\x00\x00\x05vorbis-comment-stub"[:12])]
    return build_flac_streaminfo(sr, ch, bps, total, digest, extra)


def synthesize_flac(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _flac_blob)


def _flac_frames_params(mid: int) -> tuple[int, int, int, int]:
    """(n_frames, bs_bits, sr_bits, ch_bits), oracle-mirrored:
    block size cycles the 256<<x tier, rate cycles 4 table rows, the
    channel-assignment nibble cycles mono / independent stereo /
    left-side / right-side / mid-side (RFC 9639 9.1.3)."""
    return (
        2 + mid % 5,
        0b1000 + mid % 8,
        [0b0100, 0b0101, 0b1001, 0b1010][mid % 4],
        [0b0000, 0b0001, 0b1000, 0b1001, 0b1010][mid % 5],
    )


def _flac_frames_blob(mid: int) -> bytes:
    n_frames, bs_bits, sr_bits, ch_bits = _flac_frames_params(mid)
    out = bytearray(_flac_blob(mid))
    for f in range(n_frames):
        out += build_flac_frame_header(
            f, bs_bits, sr_bits, ch_bits=ch_bits,
            depth_bits=[0b100, 0b110, 0b001][mid % 3],
        )
        # opaque subframe payload, 0xFF-free so the sync scan on the
        # fixture is exact (real scanners bound false syncs via the
        # CRC + parameter-consistency checks)
        out += bytes(
            (mid * 5 + f * 7 + j) % 255 for j in range(30 + 3 * f)
        )
    return bytes(out)


def synthesize_flac_frames(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _flac_frames_blob)


FLAC_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("block_size", IntegerType()),
        StructField("frame_rate_hz", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("max_number", LongType()),
        StructField("n_decorr_frames", IntegerType()),
    ]
)


def flac_frame_stats(media: DataFrame) -> DataFrame:
    """Frame-level FLAC census below the metadata blocks: CRC-8
    validated sync scan, per-frame coded parameters, sample totals --
    duration accounting without subframe decode."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in FLAC_FRAMES_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                frames = scan_flac_frames(bytes(blob))
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["block_size"].append(
                    frames[0]["block_size"] if frames else 0
                )
                rows["frame_rate_hz"].append(
                    frames[0]["sample_rate"] if frames else 0
                )
                rows["channels"].append(
                    frames[0]["channels"] if frames else 0
                )
                rows["bit_depth"].append(
                    frames[0]["bit_depth"] if frames else 0
                )
                rows["total_samples"].append(
                    sum(f["block_size"] for f in frames)
                )
                rows["max_number"].append(
                    max((f["number"] for f in frames), default=0)
                )
                rows["n_decorr_frames"].append(
                    sum(1 for f in frames if f["ch_bits"] >= 8)
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, FLAC_FRAMES_SCHEMA
    )


FLAC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_blocks", IntegerType()),
    ]
)


def flac_streaminfo(media: DataFrame) -> DataFrame:
    """Per-file FLAC audio profile; duration_ms is the exact integer
    total_samples*1000 DIV sample_rate."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in FLAC_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                i = parse_flac_streaminfo(bytes(blob))
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(i["sample_rate"])
                rows["channels"].append(i["channels"])
                rows["bits_per_sample"].append(i["bits_per_sample"])
                rows["total_samples"].append(i["total_samples"])
                rows["duration_ms"].append(
                    i["total_samples"] * 1000 // i["sample_rate"]
                )
                rows["n_blocks"].append(i["n_blocks"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, FLAC_SCHEMA
    )


# --------------------------------------------------------------------
# Ogg (RFC 3533) + Vorbis/Opus identification headers
# --------------------------------------------------------------------


def build_ogg_page(
    serial: int,
    seqno: int,
    granule: int,
    payload: bytes,
    header_type: int = 0,
) -> bytes:
    """One Ogg page (crc left zero -- the walk validates structure,
    not checksums, matching a fast corpus scan)."""
    segs = []
    rest = payload
    while len(rest) >= 255:
        segs.append(255)
        rest = rest[255:]
    segs.append(len(rest))
    hdr = b"OggS" + bytes([0, header_type])
    hdr += struct.pack("<q", granule)
    hdr += struct.pack("<II", serial, seqno)
    hdr += b"\x00\x00\x00\x00"  # crc
    hdr += bytes([len(segs)]) + bytes(segs)
    return hdr + payload


@guard("ogg")
def parse_ogg_pages(blob: bytes) -> list[dict]:
    """Page walk: offset, serial, seqno, granule, header_type,
    payload_len per page; raises on lost capture pattern or
    truncation."""
    pages = []
    pos = 0
    n = len(blob)
    while pos < n:
        if blob[pos : pos + 4] != b"OggS":
            raise ValueError(f"lost Ogg capture pattern at {pos}")
        if blob[pos + 4] != 0:
            raise ValueError(f"unknown Ogg version at {pos}")
        header_type = blob[pos + 5]
        granule = struct.unpack_from("<q", blob, pos + 6)[0]
        serial, seqno = struct.unpack_from("<II", blob, pos + 14)
        nseg = blob[pos + 26]
        table = blob[pos + 27 : pos + 27 + nseg]
        if len(table) != nseg:
            raise ValueError(f"truncated segment table at {pos}")
        plen = sum(table)
        start = pos + 27 + nseg
        if start + plen > n:
            raise ValueError(f"truncated page payload at {pos}")
        pages.append(
            {
                "offset": pos,
                "serial": serial,
                "seqno": seqno,
                "granule": granule,
                "header_type": header_type,
                "payload": blob[start : start + plen],
            }
        )
        pos = start + plen
    return pages


@guard("ogg-id-header")
def parse_id_header(payload: bytes) -> dict | None:
    """Codec identification from a first-page payload: Vorbis or
    Opus; None if neither."""
    if payload[:7] == b"\x01vorbis":
        channels = payload[11]
        rate = struct.unpack_from("<I", payload, 12)[0]
        return {"codec": "vorbis", "channels": channels, "rate": rate}
    if payload[:8] == b"OpusHead":
        channels = payload[9]
        preskip = struct.unpack_from("<H", payload, 10)[0]
        rate = struct.unpack_from("<I", payload, 12)[0]
        return {
            "codec": "opus",
            "channels": channels,
            "rate": rate,
            "preskip": preskip,
        }
    return None


def _ogg_params(mid: int) -> tuple[str, int, int, int]:
    """(codec, channels, rate, n_data_pages), oracle-mirrored."""
    if mid % 2 == 0:
        return ("vorbis", 1 + mid % 2, [44100, 48000, 32000][mid % 3],
                2 + mid % 4)
    return ("opus", 1 + (mid // 2) % 2, 48000, 2 + mid % 4)


# --------------------------------------------------------------------
# FLAC frame headers (RFC 9639 9.1) -- round 8
# --------------------------------------------------------------------
#
# Below the metadata blocks: per-frame sync + coded parameters + a
# CRC-8 over the header.  FLAC frames carry no length field -- their
# extent is only knowable by decoding subframes -- so the honest
# corpus-scan shape is what real stream scanners do: search sync
# candidates and accept only those whose header CRC-8 validates.  The
# synthesizer keeps payloads 0xFF-free so the scan is exact on gate
# fixtures; on real data the CRC plus parameter-consistency checks
# bound false positives.

_FLAC_BLOCKSIZE = {
    0b0001: 192, 0b0010: 576, 0b0011: 1152, 0b0100: 2304,
    0b0101: 4608, 0b1000: 256, 0b1001: 512, 0b1010: 1024,
    0b1011: 2048, 0b1100: 4096, 0b1101: 8192, 0b1110: 16384,
    0b1111: 32768,
}
_FLAC_RATE = {
    0b0100: 8000, 0b0101: 16000, 0b0110: 22050, 0b0111: 24000,
    0b1000: 32000, 0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}
_FLAC_DEPTH = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20,
               0b110: 24, 0b111: 32}


def crc8_flac(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 -- the FLAC
    frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def flac_utf8_encode(value: int) -> bytes:
    """FLAC's extended UTF-8 coded number (RFC 9639 9.1.5: the UTF-8
    scheme extended to 36 bits / up to 7 bytes)."""
    if value < 0x80:
        return bytes([value])
    for n_extra in range(1, 7):
        if value < 1 << (6 * n_extra + (6 - n_extra)):
            lead_bits = 6 - n_extra
            lead = (0xFF << (lead_bits + 1)) & 0xFF
            out = [lead | (value >> (6 * n_extra))]
            for k in range(n_extra - 1, -1, -1):
                out.append(0x80 | ((value >> (6 * k)) & 0x3F))
            return bytes(out)
    raise ValueError("value exceeds 36 bits")


def flac_utf8_decode(data: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos) for the coded number at `pos`."""
    b0 = data[pos]
    if b0 < 0x80:
        return b0, pos + 1
    n_extra = 0
    mask = 0x40
    while b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra < 1 or n_extra > 6:
        raise ValueError(f"bad coded-number lead byte at {pos}")
    value = b0 & (mask - 1)
    for i in range(1, n_extra + 1):
        c = data[pos + i]
        if c & 0xC0 != 0x80:
            raise ValueError(f"bad continuation byte at {pos + i}")
        value = (value << 6) | (c & 0x3F)
    return value, pos + n_extra + 1


def build_flac_frame_header(
    frame_number: int, bs_bits: int, sr_bits: int,
    channels: int = 1, depth_bits: int = 0b100,
    variable_blocksize: bool = False, ch_bits: int | None = None,
) -> bytes:
    """`ch_bits`, when given, is the raw channel-assignment nibble
    (0-7 independent n-channel, 8/9/10 the stereo decorrelation
    modes); otherwise derived as channels-1 (independent)."""
    hdr = bytearray()
    hdr.append(0xFF)
    hdr.append(0xF8 | (1 if variable_blocksize else 0))
    hdr.append((bs_bits << 4) | sr_bits)
    assign = (channels - 1) if ch_bits is None else ch_bits
    hdr.append((assign << 4) | (depth_bits << 1))
    hdr += flac_utf8_encode(frame_number)
    hdr.append(crc8_flac(bytes(hdr)))
    return bytes(hdr)


def parse_flac_frame_header(blob: bytes, pos: int) -> dict | None:
    """Validated frame header at `pos`, or None when the sync
    candidate fails structure or CRC-8 (the scanner's accept test)."""
    try:
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xFE) != 0xF8:
            return None
        variable = blob[pos + 1] & 1
        bs_bits = blob[pos + 2] >> 4
        sr_bits = blob[pos + 2] & 0xF
        if bs_bits in (0, 6, 7) or sr_bits in (0, 12, 13, 14, 15):
            return None  # streaminfo-deferred/literal forms not used
        ch_bits = blob[pos + 3] >> 4
        depth_bits = (blob[pos + 3] >> 1) & 0x7
        # 0-7: ch_bits+1 independent channels; 8/9/10: left-side /
        # right-side / mid-side stereo decorrelation (libFLAC's
        # default stereo output is dominated by these); 11-15 reserved
        if ch_bits > 10 or depth_bits not in _FLAC_DEPTH:
            return None
        number, end = flac_utf8_decode(blob, pos + 4)
        if blob[end] != crc8_flac(blob[pos:end]):
            return None
        return {
            "offset": pos,
            "variable_blocksize": variable,
            "block_size": _FLAC_BLOCKSIZE[bs_bits],
            "sample_rate": _FLAC_RATE[sr_bits],
            "channels": (ch_bits + 1) if ch_bits < 8 else 2,
            "ch_bits": ch_bits,
            "bit_depth": _FLAC_DEPTH[depth_bits],
            "number": number,
            "header_len": end + 1 - pos,
        }
    except (IndexError, ValueError):
        return None


@guard("flac-frames")
def scan_flac_frames(blob: bytes) -> list[dict]:
    """Sync-scan past the metadata blocks: every 0xFF F8/F9 candidate
    whose header CRC-8 validates is a frame."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream: bad magic")
    pos = 4
    while True:  # skip metadata blocks
        hdr = blob[pos]
        length = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        pos += 4 + length
        if hdr & 0x80:
            break
    frames = []
    n = len(blob)
    while pos < n - 5:
        f = parse_flac_frame_header(blob, pos)
        if f is not None:
            frames.append(f)
            pos += f["header_len"]
        else:
            pos += 1
    return frames


# Opus TOC (RFC 6716 3.1): config -> frame duration in tenths of ms.
# configs 0-11 SILK (10/20/40/60 ms per 4), 12-15 hybrid (10/20 ms
# per 2), 16-31 CELT (2.5/5/10/20 ms per 4)
def _opus_frame_dur_x10(config: int) -> int:
    if config < 12:
        return [100, 200, 400, 600][config % 4]
    if config < 16:
        return [100, 200][config % 2]
    return [25, 50, 100, 200][config % 4]


@guard("opus-toc")
def parse_opus_toc(packet: bytes) -> dict:
    """RFC 6716 3.1 TOC byte (+ the code-3 frame-count byte):
    config, stereo, frame count, per-frame and total duration in
    tenths of a millisecond.  Rejects the spec's invalid cases
    (empty packet, code-3 count 0, packet duration > 120 ms)."""
    if not packet:
        raise ValueError("empty Opus packet")
    toc = packet[0]
    config = toc >> 3
    stereo = (toc >> 2) & 1
    code = toc & 0x3
    if code < 3:
        n_frames = 1 if code == 0 else 2
        vbr = code == 2
        padded = 0
    else:
        if len(packet) < 2:
            raise ValueError("code-3 packet missing frame-count byte")
        fc = packet[1]
        vbr = bool(fc & 0x80)
        padded = (fc >> 6) & 1
        n_frames = fc & 0x3F
        if n_frames == 0:
            raise ValueError("code-3 packet with zero frames")
    dur = _opus_frame_dur_x10(config)
    total = n_frames * dur
    if total > 1200:
        raise ValueError(
            f"packet duration {total/10:.1f} ms exceeds the 120 ms "
            "limit (RFC 6716 3.2.5 R5)"
        )
    return {
        "config": config,
        "stereo": stereo,
        "code": code,
        "vbr": int(vbr),
        "padded": padded,
        "n_frames": n_frames,
        "frame_dur_x10": dur,
        "total_dur_x10": total,
    }


def _opus_params(mid: int) -> int:
    """n_packets, oracle-mirrored."""
    return 3 + mid % 5


def _opus_packet(mid: int, p: int) -> bytes:
    code = (mid + p) % 4
    stereo = (mid + p) % 2
    if code == 3:
        config = 18  # CELT 10 ms keeps any count <= 5 legal
        count = 1 + (mid + p) % 5
        toc = (config << 3) | (stereo << 2) | 3
        fc = ((p % 2) << 7) | count  # vbr flag varies, no padding
        body = bytes([toc, fc])
    else:
        config = (mid + p) % 32
        toc = (config << 3) | (stereo << 2) | code
        body = bytes([toc])
    # opaque compressed frames after the TOC layer
    return body + bytes((mid * 11 + p * 3 + j) % 256
                        for j in range(10 + p))


def _opus_blob(mid: int) -> bytes:
    n_packets = _opus_params(mid)
    serial = 0x2000 + mid
    ident = b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
    ident += struct.pack("<I", 48000) + bytes(3)
    out = bytearray(
        build_ogg_page(serial, 0, 0, ident, header_type=2)
    )
    gran = 0
    for p in range(n_packets):
        pkt = _opus_packet(mid, p)
        gran += parse_opus_toc(pkt)["total_dur_x10"] * 48  # 48 kHz
        ht = 4 if p == n_packets - 1 else 0
        out += build_ogg_page(serial, p + 1, gran // 10, pkt, ht)
    return bytes(out)


def synthesize_opus(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _opus_blob)


OPUS_TOC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_packets", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("total_dur_x10", LongType()),
        StructField("n_stereo", IntegerType()),
        StructField("n_vbr", IntegerType()),
        StructField("max_config", IntegerType()),
    ]
)


def opus_toc_stats(media: DataFrame) -> DataFrame:
    """Per-file Opus packet census one layer below the Ogg pages:
    frame counts and exact durations from the TOC layer -- the
    alignment units a speech corpus segments by."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in OPUS_TOC_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                pages = parse_ogg_pages(bytes(blob))
                head = parse_id_header(pages[0]["payload"])
                if head is None or head["codec"] != "opus":
                    raise ValueError("not an Ogg Opus stream")
                n_pkt = n_fr = dur = n_st = n_vbr = 0
                max_cfg = 0
                for pg in pages[1:]:
                    t = parse_opus_toc(pg["payload"])
                    n_pkt += 1
                    n_fr += t["n_frames"]
                    dur += t["total_dur_x10"]
                    n_st += t["stereo"]
                    n_vbr += t["vbr"]
                    max_cfg = max(max_cfg, t["config"])
                rows["media_id"].append(int(mid))
                rows["n_packets"].append(n_pkt)
                rows["n_frames"].append(n_fr)
                rows["total_dur_x10"].append(dur)
                rows["n_stereo"].append(n_st)
                rows["n_vbr"].append(n_vbr)
                rows["max_config"].append(max_cfg)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, OPUS_TOC_SCHEMA
    )


def _ogg_blob(mid: int) -> bytes:
    codec, ch, rate, npages = _ogg_params(mid)
    serial = 0x1000 + mid
    if codec == "vorbis":
        ident = b"\x01vorbis" + struct.pack("<IB", 0, ch)
        ident += struct.pack("<I", rate) + bytes(16)
    else:
        ident = b"OpusHead" + bytes([1, ch]) + struct.pack("<H", 312)
        ident += struct.pack("<I", rate) + bytes(3)
    out = bytearray(build_ogg_page(serial, 0, 0, ident, header_type=2))
    for p in range(npages):
        payload = bytes((mid * 13 + p * 7 + j) % 256
                        for j in range(200 + 60 * p))
        ht = 4 if p == npages - 1 else 0  # EOS on the last page
        out += build_ogg_page(serial, p + 1, (p + 1) * 960, payload, ht)
    return bytes(out)


def synthesize_ogg(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _ogg_blob)


OGG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("codec", StringType()),
        StructField("channels", IntegerType()),
        StructField("rate", IntegerType()),
        StructField("n_pages", IntegerType()),
        StructField("last_granule", LongType()),
        StructField("payload_bytes", LongType()),
        StructField("eos_seen", IntegerType()),
    ]
)


def ogg_stream_stats(media: DataFrame) -> DataFrame:
    """Per-file Ogg profile: codec identification, page census, final
    granule position (the duration basis), payload byte total, EOS
    flag presence."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in OGG_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                pages = parse_ogg_pages(bytes(blob))
                ident = parse_id_header(pages[0]["payload"]) if pages else None
                rows["media_id"].append(int(mid))
                rows["codec"].append(ident["codec"] if ident else "unknown")
                rows["channels"].append(ident["channels"] if ident else 0)
                rows["rate"].append(ident["rate"] if ident else 0)
                rows["n_pages"].append(len(pages))
                rows["last_granule"].append(
                    max((p["granule"] for p in pages), default=0)
                )
                rows["payload_bytes"].append(
                    sum(len(p["payload"]) for p in pages)
                )
                rows["eos_seen"].append(
                    1 if any(p["header_type"] & 4 for p in pages) else 0
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, OGG_SCHEMA
    )


# --------------------------------------------------------------------
# WebP (RIFF)
# --------------------------------------------------------------------


def build_webp(kind: str, width: int, height: int) -> bytes:
    """Minimal WebP of the given variant carrying real dimension
    fields ('VP8 ' lossy / 'VP8L' lossless / 'VP8X' extended)."""
    if kind == "VP8 ":
        # frame tag: keyframe, version 0, show=1, partition size 0
        body = bytes([0x10, 0x00, 0x00]) + b"\x9d\x01\x2a"
        body += struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        body += bytes(10)
    elif kind == "VP8L":
        packed = (width - 1) | ((height - 1) << 14)
        body = b"\x2f" + struct.pack("<I", packed)[:4] + bytes(6)
    elif kind == "VP8X":
        body = bytes([0, 0, 0, 0])
        body += (width - 1).to_bytes(3, "little")
        body += (height - 1).to_bytes(3, "little")
    else:
        raise ValueError(kind)
    chunk = kind.encode("ascii") + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


@guard("webp")
def parse_webp(blob: bytes) -> dict:
    """RIFF walk + per-variant dimension decode."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP: bad RIFF/WEBP magic")
    riff_len = struct.unpack_from("<I", blob, 4)[0]
    if 8 + riff_len > len(blob):
        raise ValueError("truncated RIFF payload")
    pos = 12
    while pos + 8 <= 8 + riff_len:
        fourcc = blob[pos : pos + 4].decode("latin-1")
        clen = struct.unpack_from("<I", blob, pos + 4)[0]
        data = blob[pos + 8 : pos + 8 + clen]
        if len(data) != clen:
            raise ValueError(f"truncated chunk {fourcc!r}")
        if fourcc == "VP8 ":
            if data[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            w, h = struct.unpack_from("<HH", data, 6)
            return {"format": "lossy", "width": w & 0x3FFF,
                    "height": h & 0x3FFF}
        if fourcc == "VP8L":
            if data[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            packed = struct.unpack_from("<I", data, 1)[0]
            return {
                "format": "lossless",
                "width": (packed & 0x3FFF) + 1,
                "height": ((packed >> 14) & 0x3FFF) + 1,
            }
        if fourcc == "VP8X":
            w = int.from_bytes(data[4:7], "little") + 1
            h = int.from_bytes(data[7:10], "little") + 1
            return {"format": "extended", "width": w, "height": h}
        pos += 8 + clen + (clen & 1)
    raise ValueError("no VP8/VP8L/VP8X chunk")


def _webp_params(mid: int) -> tuple[str, int, int]:
    kind = ["VP8 ", "VP8L", "VP8X"][mid % 3]
    return kind, 16 + (mid * 37) % 1200, 16 + (mid * 53) % 900


def _webp_blob(mid: int) -> bytes:
    return build_webp(*_webp_params(mid))


def synthesize_webp(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _webp_blob)


WEBP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels", LongType()),
    ]
)


def webp_dimensions(media: DataFrame) -> DataFrame:
    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in WEBP_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                d = parse_webp(bytes(blob))
                rows["media_id"].append(int(mid))
                rows["format"].append(d["format"])
                rows["width"].append(d["width"])
                rows["height"].append(d["height"])
                rows["pixels"].append(d["width"] * d["height"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, WEBP_SCHEMA
    )


# --------------------------------------------------------------------
# Matroska / EBML (RFC 8794)
# --------------------------------------------------------------------


def _ebml_vint(value: int, id_form: bool = False) -> bytes:
    """Encode a vint.  For SIZES the marker bit is part of the
    length prefix (RFC 8794 data-size form); element IDs are written
    verbatim (they already carry their marker)."""
    if id_form:
        n = (value.bit_length() + 7) // 8
        return value.to_bytes(n, "big")
    for n in range(1, 9):
        if value < (1 << (7 * n)) - 1:
            return ((1 << (7 * n)) | value).to_bytes(n, "big")
    raise ValueError("vint overflow")


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    return _ebml_vint(eid, id_form=True) + _ebml_vint(len(payload)) + payload


def _ebml_uint(eid: int, value: int) -> bytes:
    n = max(1, (value.bit_length() + 7) // 8)
    return _ebml_elem(eid, value.to_bytes(n, "big"))


def _ebml_float(eid: int, value: float) -> bytes:
    return _ebml_elem(eid, struct.pack(">d", value))


def _ebml_string(eid: int, value: str) -> bytes:
    return _ebml_elem(eid, value.encode("ascii"))


# Matroska element IDs (matroska.org spec)
_MKV_EBML = 0x1A45DFA3
_MKV_SEGMENT = 0x18538067
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_TRACK_NUMBER = 0xD7
_MKV_TRACK_TYPE = 0x83
_MKV_CODEC_ID = 0x86
_MKV_VIDEO = 0xE0
_MKV_PIXEL_W = 0xB0
_MKV_PIXEL_H = 0xBA
_MKV_AUDIO = 0xE1
_MKV_SAMPLING = 0xB5
_MKV_CHANNELS = 0x9F


def read_vint(blob: bytes, pos: int, id_form: bool = False) -> tuple[int, int]:
    """(value, new_pos).  IDs keep their marker bit; sizes strip it."""
    if pos >= len(blob):
        raise ValueError("vint past end")
    first = blob[pos]
    if first == 0:
        raise ValueError(f"invalid vint at {pos}")
    n = 8 - first.bit_length() + 1
    if pos + n > len(blob):
        raise ValueError(f"truncated vint at {pos}")
    raw = int.from_bytes(blob[pos : pos + n], "big")
    if not id_form:
        raw &= (1 << (7 * n)) - 1
    return raw, pos + n


def _walk_ebml(blob: bytes, pos: int, end: int):
    """Yield (element_id, payload_start, payload_end)."""
    while pos < end:
        eid, pos = read_vint(blob, pos, id_form=True)
        size, pos = read_vint(blob, pos)
        if pos + size > end:
            raise ValueError(f"element 0x{eid:X} overruns container")
        yield eid, pos, pos + size
        pos += size


def build_webm_tracks(tracks: list[dict]) -> bytes:
    """Minimal WebM: EBML header + Segment(Tracks(entries...))."""
    ebml_hdr = _ebml_elem(
        _MKV_EBML,
        _ebml_string(0x4282, "webm")  # DocType
        + _ebml_uint(0x4286, 1),  # EBMLVersion
    )
    entries = b""
    for t in tracks:
        body = _ebml_uint(_MKV_TRACK_NUMBER, t["number"])
        body += _ebml_uint(_MKV_TRACK_TYPE, t["type"])
        body += _ebml_string(_MKV_CODEC_ID, t["codec"])
        if t["type"] == 1:
            body += _ebml_elem(
                _MKV_VIDEO,
                _ebml_uint(_MKV_PIXEL_W, t["width"])
                + _ebml_uint(_MKV_PIXEL_H, t["height"]),
            )
        else:
            body += _ebml_elem(
                _MKV_AUDIO,
                _ebml_float(_MKV_SAMPLING, float(t["rate"]))
                + _ebml_uint(_MKV_CHANNELS, t["channels"]),
            )
        entries += _ebml_elem(_MKV_TRACK_ENTRY, body)
    segment = _ebml_elem(_MKV_SEGMENT, _ebml_elem(_MKV_TRACKS, entries))
    return ebml_hdr + segment


@guard("webm")
def parse_webm_tracks(blob: bytes) -> list[dict]:
    """EBML walk to the track census: one dict per TrackEntry."""
    top = list(_walk_ebml(blob, 0, len(blob)))
    if not top or top[0][0] != _MKV_EBML:
        raise ValueError("not an EBML stream")
    tracks_out: list[dict] = []
    for eid, s, e in top:
        if eid != _MKV_SEGMENT:
            continue
        for eid2, s2, e2 in _walk_ebml(blob, s, e):
            if eid2 != _MKV_TRACKS:
                continue
            for eid3, s3, e3 in _walk_ebml(blob, s2, e2):
                if eid3 != _MKV_TRACK_ENTRY:
                    continue
                t = {"number": 0, "type": 0, "codec": "", "width": 0,
                     "height": 0, "rate": 0, "channels": 0}
                for eid4, s4, e4 in _walk_ebml(blob, s3, e3):
                    v = blob[s4:e4]
                    if eid4 == _MKV_TRACK_NUMBER:
                        t["number"] = int.from_bytes(v, "big")
                    elif eid4 == _MKV_TRACK_TYPE:
                        t["type"] = int.from_bytes(v, "big")
                    elif eid4 == _MKV_CODEC_ID:
                        t["codec"] = v.decode("ascii")
                    elif eid4 == _MKV_VIDEO:
                        for eid5, s5, e5 in _walk_ebml(blob, s4, e4):
                            if eid5 == _MKV_PIXEL_W:
                                t["width"] = int.from_bytes(
                                    blob[s5:e5], "big"
                                )
                            elif eid5 == _MKV_PIXEL_H:
                                t["height"] = int.from_bytes(
                                    blob[s5:e5], "big"
                                )
                    elif eid4 == _MKV_AUDIO:
                        for eid5, s5, e5 in _walk_ebml(blob, s4, e4):
                            if eid5 == _MKV_SAMPLING:
                                t["rate"] = int(
                                    struct.unpack(">d", blob[s5:e5])[0]
                                )
                            elif eid5 == _MKV_CHANNELS:
                                t["channels"] = int.from_bytes(
                                    blob[s5:e5], "big"
                                )
                tracks_out.append(t)
    return tracks_out


def _webm_params(mid: int) -> list[dict]:
    tracks = [
        {
            "number": 1,
            "type": 1,
            "codec": "V_VP9" if mid % 2 else "V_VP8",
            "width": 320 + 16 * (mid % 50),
            "height": 240 + 16 * (mid % 30),
        }
    ]
    if mid % 3 != 0:
        tracks.append(
            {
                "number": 2,
                "type": 2,
                "codec": "A_OPUS" if mid % 2 else "A_VORBIS",
                "rate": 48000 if mid % 2 else 44100,
                "channels": 1 + mid % 2,
            }
        )
    return tracks


def _webm_blob(mid: int) -> bytes:
    return build_webm_tracks(_webm_params(mid))


def synthesize_webm(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _webm_blob)


WEBM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("track_number", IntegerType()),
        StructField("track_type", IntegerType()),
        StructField("codec", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("rate", IntegerType()),
        StructField("channels", IntegerType()),
    ]
)


def webm_track_census(media: DataFrame) -> DataFrame:
    """One row per WebM track: the video/audio routing table."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in WEBM_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for t in parse_webm_tracks(bytes(blob)):
                    rows["media_id"].append(int(mid))
                    rows["track_number"].append(t["number"])
                    rows["track_type"].append(t["type"])
                    rows["codec"].append(t["codec"])
                    rows["width"].append(t["width"])
                    rows["height"].append(t["height"])
                    rows["rate"].append(t["rate"])
                    rows["channels"].append(t["channels"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, WEBM_SCHEMA
    )


# --------------------------------------------------------------------
# HEIF / AVIF image metadata (ISO 23008-12 over ISO-BMFF)
# --------------------------------------------------------------------
#
# The modern image formats are ISO-BMFF 'meta' structures: ftyp brand
# (heic/avif/mif1), a full-box 'meta' containing pitm (primary item),
# iinf (item count) and iprp/ipco with the 'ispe' spatial-extents
# property carrying the REAL pixel dimensions.  Reuses the container
# module's box walk; the codec payloads (hvcC/av1C items) stay
# opaque, exactly like the MP4 tier.

from .container import _box as _bmff_box
from .container import walk_boxes as _bmff_walk



def _fullbox(tag: bytes, body: bytes, version: int = 0) -> bytes:
    return _bmff_box(tag, bytes([version, 0, 0, 0]) + body)


def build_heif(
    brand: str, width: int, height: int, n_items: int = 1,
    primary: int = 1,
) -> bytes:
    """Minimal HEIF/AVIF: ftyp + meta(hdlr, pitm, iinf, iprp/ipco
    with one ispe per item; item 1's extents are the given size,
    further items are half-size thumbnails)."""
    ftyp = _bmff_box(
        b"ftyp",
        brand.encode("ascii") + struct.pack(">I", 0)
        + b"mif1" + brand.encode("ascii"),
    )
    hdlr = _fullbox(
        b"hdlr", struct.pack(">I", 0) + b"pict" + bytes(12) + b"\x00"
    )
    pitm = _fullbox(b"pitm", struct.pack(">H", primary))
    infes = b"".join(
        _fullbox(
            b"infe",
            struct.pack(">HH", i + 1, 0) + b"hvc1\x00" + b"\x00",
            version=2,
        )
        for i in range(n_items)
    )
    iinf = _fullbox(b"iinf", struct.pack(">H", n_items) + infes)
    ispes = b""
    for i in range(n_items):
        w = width if i == 0 else max(1, width >> 1)
        h = height if i == 0 else max(1, height >> 1)
        ispes += _fullbox(b"ispe", struct.pack(">II", w, h))
    ipco = _bmff_box(b"ipco", ispes)
    iprp = _bmff_box(b"iprp", ipco)
    meta = _fullbox(b"meta", hdlr + pitm + iinf + iprp)
    return ftyp + meta


@guard("heif")
def parse_heif(blob: bytes) -> dict:
    """Brand + item census + spatial extents out of the meta box."""
    brand = None
    meta_span = None
    for tag, b, e in _bmff_walk(blob):
        if tag == b"ftyp":
            brand = blob[b : b + 4].decode("latin-1")
        elif tag == b"meta":
            meta_span = (b + 4, e)  # skip the FullBox version/flags
    if brand is None or meta_span is None:
        raise ValueError("not a HEIF: missing ftyp/meta")
    primary = 0
    n_items = 0
    extents: list[tuple[int, int]] = []
    for tag, b, e in _bmff_walk(blob, *meta_span):
        if tag == b"pitm":
            primary = struct.unpack(">H", blob[b + 4 : b + 6])[0]
        elif tag == b"iinf":
            n_items = struct.unpack(">H", blob[b + 4 : b + 6])[0]
        elif tag == b"iprp":
            for t2, b2, e2 in _bmff_walk(blob, b, e):
                if t2 != b"ipco":
                    continue
                for t3, b3, e3 in _bmff_walk(blob, b2, e2):
                    if t3 == b"ispe":
                        w, h = struct.unpack(
                            ">II", blob[b3 + 4 : b3 + 12]
                        )
                        extents.append((w, h))
    if not extents:
        raise ValueError("no ispe property")
    return {
        "brand": brand,
        "primary_item": primary,
        "n_items": n_items,
        "width": extents[0][0],
        "height": extents[0][1],
        "n_extents": len(extents),
    }


def _heif_params(mid: int) -> tuple[str, int, int, int]:
    brand = ["heic", "avif", "mif1"][mid % 3]
    return brand, 64 + 2 * (mid % 960), 64 + 2 * (mid % 540), 1 + mid % 3


def _heif_blob(mid: int) -> bytes:
    brand, w, h, n = _heif_params(mid)
    return build_heif(brand, w, h, n)


def synthesize_heif(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _heif_blob)


HEIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("brand", StringType()),
        StructField("n_items", IntegerType()),
        StructField("primary_item", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_extents", IntegerType()),
    ]
)


def heif_dimensions(media: DataFrame) -> DataFrame:
    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in HEIF_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                d = parse_heif(bytes(blob))
                rows["media_id"].append(int(mid))
                for k in ("brand", "n_items", "primary_item",
                          "width", "height", "n_extents"):
                    rows[k].append(d[k])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, HEIF_SCHEMA
    )
