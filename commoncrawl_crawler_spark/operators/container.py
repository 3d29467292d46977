"""Media container demux: ISO BMFF (MP4) and MPEG audio (MP3) framing.

Training-data-pipeline tier (no reference analog -- the reference
ships raw archive payloads, protocol.jr contentRaw; this module is
the video/audio-container equivalent of its ARC reader: locate the
records inside an opaque blob, expose typed metadata, and hand each
payload to a codec kernel).

What is REAL here (no external libraries, spec-level parsing):
  * ISO BMFF / MP4 (ISO 14496-12): full box walk (nested containers,
    64-bit largesize, size==0 tail boxes), per-track sample tables
    (stsd/stts/stsc/stsz/stco) resolved to absolute (offset, size)
    sample locations -- the same chunk-run expansion every demuxer
    performs.
  * Motion-JPEG video tracks ('jpeg' sample entries): each sample is
    a baseline JPEG decoded by this repo's own T.81 kernel
    (multimodal.parse_jpeg_gray) -- real end-to-end video-frame
    decode with zero external codecs.
  * PCM audio tracks ('twos' = 16-bit big-endian, 'sowt' =
    little-endian): real sample decode via numpy.
  * MPEG audio (ISO 11172-3) framing: ID3v2 tag skip (syncsafe
    length), frame-sync walk with the MPEG-1/2 bitrate and
    sample-rate tables, per-frame length arithmetic
    (layer III: 144*bitrate/samplerate + padding), VBR detection.

What still needs an external codec (documented, not faked): the
layer III / AAC compressed-audio sample decode and H.26x video
samples. Layers I and II decode to dequantized subband samples
in-repo; the polyphase synthesis to PCM is not implemented.
The demux layer above them -- the part a 100 TB corpus scan actually
runs to filter/route/slice media -- is complete and real.

At 100 TB: containers are demuxed where they land (narrow
mapInPandas, Arrow batches); only fixed-width metadata rows and the
small per-sample stats ever shuffle, never the payload bytes. The
synthesizers repartition the narrow id column to defaultParallelism
BEFORE attaching payloads (see packfiles._synthesize_media).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .multimodal import encode_jpeg_gray, parse_jpeg_gray
from .parseguard import guard
from ..sources.packfiles import _synthesize_media

# --------------------------------------------------------------------
# ISO BMFF (MP4) writer -- deterministic test-fixture muxer
# --------------------------------------------------------------------


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def _full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, bytes([version]) + flags.to_bytes(3, "big") + body)


_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
_LANG_UND = 0x55C4  # 'und' packed 5-bit chars


def _visual_entry_jpeg(width: int, height: int) -> bytes:
    body = (
        b"\x00" * 6  # reserved
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4  # reserved
        + struct.pack(">H", 1)  # frame_count per sample
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    return _box(b"jpeg", body)


def _audio_entry_pcm(codec: bytes, channels: int, sample_rate: int) -> bytes:
    body = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 8  # version/revision/vendor (QT), zero in ISO
        + struct.pack(">HH", channels, 16)  # channelcount, samplesize
        + b"\x00" * 4  # pre_defined + reserved
        + struct.pack(">I", sample_rate << 16)  # 16.16 fixed
    )
    return _box(codec, body)


def _stbl(
    sample_entry: bytes,
    stts: list[tuple[int, int]],
    stsc: list[tuple[int, int]],
    sample_sizes,  # int (fixed) or list[int]
    sample_count: int,
    chunk_offsets: list[int],
) -> bytes:
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts_b = _full(
        b"stts",
        0,
        0,
        struct.pack(">I", len(stts))
        + b"".join(struct.pack(">II", c, d) for c, d in stts),
    )
    stsc_b = _full(
        b"stsc",
        0,
        0,
        struct.pack(">I", len(stsc))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in stsc),
    )
    if isinstance(sample_sizes, int):
        stsz_b = _full(
            b"stsz", 0, 0, struct.pack(">II", sample_sizes, sample_count)
        )
    else:
        stsz_b = _full(
            b"stsz",
            0,
            0,
            struct.pack(">II", 0, sample_count)
            + b"".join(struct.pack(">I", s) for s in sample_sizes),
        )
    stco_b = _full(
        b"stco",
        0,
        0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    return _box(b"stbl", stsd + stts_b + stsc_b + stsz_b + stco_b)


def _trak(
    track_id: int,
    handler: bytes,
    timescale: int,
    duration: int,
    header_wh: tuple[int, int],
    stbl: bytes,
) -> bytes:
    w, h = header_wh
    tkhd = _full(
        b"tkhd",
        0,
        3,  # enabled | in_movie
        struct.pack(">II", 0, 0)
        + struct.pack(">I", track_id)
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100 if handler == b"soun" else 0, 0)
        + _MATRIX
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", _LANG_UND, 0),
    )
    hdlr = _full(
        b"hdlr", 0, 0, b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00"
    )
    media_hdr = (
        _full(b"vmhd", 0, 1, b"\x00" * 8)
        if handler == b"vide"
        else _full(b"smhd", 0, 0, b"\x00" * 4)
    )
    dref = _full(
        b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
    )
    minf = _box(b"minf", media_hdr + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def encode_mp4_bytes(
    video_frames: list[bytes],
    video_wh: tuple[int, int],
    audio_pcm: np.ndarray,
    sample_rate: int,
    audio_codec: bytes = b"twos",
) -> bytes:
    """Mux motion-JPEG frames + 16-bit PCM into a valid MP4.

    Layout: ftyp | mdat | moov (offsets into mdat are absolute file
    offsets, the common non-faststart layout). The video frames are
    split into two chunks when possible so the demuxer's stsc
    chunk-run expansion is genuinely exercised.
    """
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    pcm = np.asarray(audio_pcm, dtype=np.int16)
    fmt = ">" if audio_codec == b"twos" else "<"
    audio_bytes = pcm.astype(fmt + "i2").tobytes()

    n_frames = len(video_frames)
    c1 = (n_frames + 1) // 2  # frames in video chunk 1
    data_start = len(ftyp) + 8  # mdat payload begins after its header
    v_chunk1_off = data_start
    v_chunk2_off = v_chunk1_off + sum(len(f) for f in video_frames[:c1])
    a_chunk_off = data_start + sum(len(f) for f in video_frames)
    mdat = _box(b"mdat", b"".join(video_frames) + audio_bytes)

    vw, vh = video_wh
    v_timescale, v_delta = 90000, 3000  # 30 fps
    v_dur = n_frames * v_delta
    video_stbl = _stbl(
        _visual_entry_jpeg(vw, vh),
        stts=[(n_frames, v_delta)],
        stsc=(
            [(1, c1), (2, n_frames - c1)]
            if n_frames - c1 > 0
            else [(1, n_frames)]
        ),
        sample_sizes=[len(f) for f in video_frames],
        sample_count=n_frames,
        chunk_offsets=(
            [v_chunk1_off, v_chunk2_off]
            if n_frames - c1 > 0
            else [v_chunk1_off]
        ),
    )
    n_samples = len(pcm)
    audio_stbl = _stbl(
        _audio_entry_pcm(audio_codec, 1, sample_rate),
        stts=[(n_samples, 1)],
        stsc=[(1, n_samples)],
        sample_sizes=2,  # fixed: one 16-bit mono PCM sample
        sample_count=n_samples,
        chunk_offsets=[a_chunk_off],
    )
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, max(v_dur * 1000 // v_timescale, 1))
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 3),
    )
    moov = _box(
        b"moov",
        mvhd
        + _trak(1, b"vide", v_timescale, v_dur, (vw, vh), video_stbl)
        + _trak(2, b"soun", sample_rate, n_samples, (0, 0), audio_stbl),
    )
    return ftyp + mdat + moov


# --------------------------------------------------------------------
# ISO BMFF (MP4) reader
# --------------------------------------------------------------------

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


def walk_boxes(
    blob: bytes, start: int = 0, end: int | None = None
) -> Iterator[tuple[bytes, int, int]]:
    """Yield (tag, body_start, box_end) for each top-level box in
    [start, end); handles 64-bit largesize and size==0 tail boxes."""
    end = len(blob) if end is None else end
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", blob[pos : pos + 4])[0]
        tag = blob[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box header")
            size = struct.unpack(">Q", blob[pos + 8 : pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad box size {size} for {tag!r} at {pos}")
        yield tag, pos + hdr, pos + size
        pos += size


def _find(blob: bytes, start: int, end: int, tag: bytes):
    for t, b, e in walk_boxes(blob, start, end):
        if t == tag:
            return b, e
    return None


def _need(blob: bytes, start: int, end: int, tag: bytes):
    """_find for a box the parse cannot do without."""
    found = _find(blob, start, end, tag)
    if found is None:
        raise ValueError(f"missing {tag.decode('latin-1')} box")
    return found


def _sample_locations(
    stsc: list[tuple[int, int]],
    stco: list[int],
    sizes: list[int],
) -> list[tuple[int, int]]:
    """Expand the chunk-run sample-to-chunk table into absolute
    (offset, size) per sample -- ISO 14496-12 8.7.4 semantics: each
    stsc entry applies from its first_chunk until the next entry's
    first_chunk - 1."""
    locs: list[tuple[int, int]] = []
    si = 0
    for i, (first, spc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(stco)
        for chunk in range(first, last + 1):
            off = stco[chunk - 1]
            for _ in range(spc):
                if si >= len(sizes):
                    return locs
                locs.append((off, sizes[si]))
                off += sizes[si]
                si += 1
    return locs


@guard("mp4")
def parse_mp4_tracks(blob: bytes) -> list[dict]:
    """Parse an ISO BMFF blob into per-track dicts with resolved
    sample locations. Raises on structurally invalid input."""
    moov = _find(blob, 0, len(blob), b"moov")
    if moov is None:
        raise ValueError("not an ISO BMFF file: no moov box")
    tracks = []
    for tag, b, e in walk_boxes(blob, *moov):
        if tag != b"trak":
            continue
        tkhd = _find(blob, b, e, b"tkhd")
        if tkhd is None:
            raise ValueError("trak without tkhd")
        tk_ver = blob[tkhd[0]]
        track_id = struct.unpack(
            ">I", blob[tkhd[0] + (12 if tk_ver == 0 else 20) :][:4]
        )[0]
        mdia = _find(blob, b, e, b"mdia")
        if mdia is None:
            raise ValueError("trak without mdia")
        mdhd = _need(blob, *mdia, b"mdhd")
        md_ver = blob[mdhd[0]]
        if md_ver == 0:
            timescale, duration = struct.unpack(
                ">II", blob[mdhd[0] + 12 : mdhd[0] + 20]
            )
        else:
            timescale = struct.unpack(
                ">I", blob[mdhd[0] + 20 : mdhd[0] + 24]
            )[0]
            duration = struct.unpack(
                ">Q", blob[mdhd[0] + 24 : mdhd[0] + 32]
            )[0]
        hdlr = _need(blob, *mdia, b"hdlr")
        handler = blob[hdlr[0] + 8 : hdlr[0] + 12].decode("ascii")
        minf = _need(blob, *mdia, b"minf")
        stbl = _need(blob, *minf, b"stbl")

        stsd = _need(blob, *stbl, b"stsd")
        entry_start = stsd[0] + 8  # past version/flags + entry_count
        codec = blob[entry_start + 4 : entry_start + 8].decode("ascii")
        width = height = channels = sample_rate = 0
        if handler == "vide":
            width, height = struct.unpack(
                ">HH", blob[entry_start + 32 : entry_start + 36]
            )
        elif handler == "soun":
            channels = struct.unpack(
                ">H", blob[entry_start + 24 : entry_start + 26]
            )[0]
            sample_rate = (
                struct.unpack(
                    ">I", blob[entry_start + 32 : entry_start + 36]
                )[0]
                >> 16
            )

        def _full_body(tag: bytes) -> bytes:
            found = _find(blob, *stbl, tag)
            if found is None:
                raise ValueError(f"stbl without {tag!r}")
            return blob[found[0] + 4 : found[1]]  # skip version/flags

        def _check_count(n: int, entry: int, body: bytes, tag: str) -> None:
            # a stomped 32-bit count must not drive allocation: every
            # entry occupies `entry` bytes of the table body
            if n * entry > len(body) - 4:
                raise ValueError(f"{tag} count {n} overruns box body")

        stts_body = _full_body(b"stts")
        n_stts = struct.unpack(">I", stts_body[:4])[0]
        _check_count(n_stts, 8, stts_body, "stts")
        stts = [
            struct.unpack(">II", stts_body[4 + 8 * i : 12 + 8 * i])
            for i in range(n_stts)
        ]
        stsc_body = _full_body(b"stsc")
        n_stsc = struct.unpack(">I", stsc_body[:4])[0]
        _check_count(n_stsc, 12, stsc_body, "stsc")
        stsc = [
            struct.unpack(">III", stsc_body[4 + 12 * i : 16 + 12 * i])[:2]
            for i in range(n_stsc)
        ]
        stsz_body = _full_body(b"stsz")
        fixed, count = struct.unpack(">II", stsz_body[:8])
        if fixed:
            # fixed-size samples carry no per-entry table to bound the
            # count with; every sample still occupies >= 1 byte of file
            if count > len(blob):
                raise ValueError(f"stsz sample count {count} implausible")
        else:
            _check_count(count, 4, stsz_body[4:], "stsz")
        sizes = (
            [fixed] * count
            if fixed
            else [
                struct.unpack(">I", stsz_body[8 + 4 * i : 12 + 4 * i])[0]
                for i in range(count)
            ]
        )
        stco_body = _full_body(b"stco")
        n_stco = struct.unpack(">I", stco_body[:4])[0]
        _check_count(n_stco, 4, stco_body, "stco")
        stco = [
            struct.unpack(">I", stco_body[4 + 4 * i : 8 + 4 * i])[0]
            for i in range(n_stco)
        ]
        tracks.append(
            {
                "track_id": track_id,
                "handler": handler,
                "codec": codec,
                "timescale": timescale,
                "duration": duration,
                "width": width,
                "height": height,
                "channels": channels,
                "sample_rate": sample_rate,
                "sample_count": count,
                "sample_deltas": stts,
                "samples": _sample_locations(stsc, stco, sizes),
            }
        )
    return tracks


def extract_track_samples(blob: bytes, track: dict) -> list[bytes]:
    return [blob[off : off + size] for off, size in track["samples"]]


# --------------------------------------------------------------------
# MP4 synthesizer + Spark operators
# --------------------------------------------------------------------


def _mp4_params(mid: int) -> tuple[int, int, int, int, int]:
    """Deterministic per-id MP4 content parameters (mirrored
    closed-form in the DuckDB oracle): n_frames, width, height,
    sample_rate, n_pcm_samples."""
    n_frames = 2 + mid % 3
    w = 8 * (1 + mid % 2)
    h = 8
    sr = 8000 if mid % 2 == 0 else 16000
    n_samples = 200 + mid % 50
    return n_frames, w, h, sr, n_samples


def _mp4_blob(mid: int) -> bytes:
    n_frames, w, h, sr, n_samples = _mp4_params(mid)
    bw = w // 8
    frames = []
    for f in range(n_frames):
        px = np.zeros((h, w), dtype=np.int64)
        for b in range(bw):
            px[:, 8 * b : 8 * b + 8] = (mid * 7 + f * 13 + b * 29) % 256
        frames.append(encode_jpeg_gray(w, h, px.ravel()))
    i = np.arange(n_samples, dtype=np.int64)
    pcm = ((mid * 31 + i * 17) % 4096 - 2048).astype(np.int16)
    return encode_mp4_bytes(frames, (w, h), pcm, sr)


def synthesize_mp4(documents: DataFrame) -> DataFrame:
    """Motion-JPEG + PCM MP4 per doc_id; flat 8x8 luma blocks keep
    the lossy JPEG path bit-exact (multimodal.synthesize_jpeg)."""
    return _synthesize_media(documents, _mp4_blob)


MP4_TRACKS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("track_id", IntegerType()),
        StructField("handler", StringType()),
        StructField("codec", StringType()),
        StructField("timescale", LongType()),
        StructField("duration", LongType()),
        StructField("sample_count", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)


def demux_mp4(media: DataFrame) -> DataFrame:
    """Track-metadata table (one row per track per blob): the real
    ISO BMFF walk + sample-table resolution, no codec work."""

    def _demux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MP4_TRACKS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for t in parse_mp4_tracks(bytes(blob)):
                    rows["media_id"].append(int(mid))
                    rows["track_id"].append(t["track_id"])
                    rows["handler"].append(t["handler"])
                    rows["codec"].append(t["codec"])
                    rows["timescale"].append(t["timescale"])
                    rows["duration"].append(t["duration"])
                    rows["sample_count"].append(t["sample_count"])
                    rows["width"].append(t["width"])
                    rows["height"].append(t["height"])
                    rows["channels"].append(t["channels"])
                    rows["sample_rate"].append(t["sample_rate"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _demux, MP4_TRACKS
    )


MP4_FRAME_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_px", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)


def decode_mp4_frames(media: DataFrame) -> DataFrame:
    """Demux the motion-JPEG video track and decode EVERY frame with
    the in-repo T.81 baseline kernel (multimodal.parse_jpeg_gray) --
    real video-frame decode, zero external codecs."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MP4_FRAME_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                video = [
                    t
                    for t in parse_mp4_tracks(blob)
                    if t["handler"] == "vide"
                ]
                if len(video) != 1:
                    raise ValueError(
                        f"expected 1 video track, got {len(video)} "
                        f"for media_id={int(mid)}"
                    )
                total = 0
                mn, mx = 255, 0
                w = h = 0
                frames = extract_track_samples(blob, video[0])
                for sample in frames:
                    w, h, gray = parse_jpeg_gray(sample)
                    total += int(gray.sum())
                    mn = min(mn, int(gray.min()))
                    mx = max(mx, int(gray.max()))
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_px"].append(total)
                rows["min_px"].append(mn)
                rows["max_px"].append(mx)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _decode, MP4_FRAME_STATS
    )


MP4_AUDIO_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("max_abs", IntegerType()),
    ]
)


def decode_mp4_audio(media: DataFrame) -> DataFrame:
    """Demux the PCM audio track ('twos'/'sowt') and decode the
    samples with numpy -- real audio decode."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MP4_AUDIO_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                audio = [
                    t
                    for t in parse_mp4_tracks(blob)
                    if t["handler"] == "soun"
                ]
                if len(audio) != 1:
                    raise ValueError(
                        f"expected 1 audio track for media_id={int(mid)}"
                    )
                t = audio[0]
                if t["codec"] not in ("twos", "sowt"):
                    raise NotImplementedError(
                        f"compressed audio codec {t['codec']!r} needs an "
                        "external decoder; PCM ('twos'/'sowt') is real"
                    )
                raw = b"".join(extract_track_samples(blob, t))
                dt = ">i2" if t["codec"] == "twos" else "<i2"
                pcm = np.frombuffer(raw, dtype=dt).astype(np.int64)
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(t["sample_rate"])
                rows["n_samples"].append(len(pcm))
                rows["sum_abs"].append(int(np.abs(pcm).sum()))
                rows["max_abs"].append(
                    int(np.abs(pcm).max()) if len(pcm) else 0
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _decode, MP4_AUDIO_STATS
    )


# --------------------------------------------------------------------
# MPEG audio (MP3) framing -- ISO 11172-3 headers + ID3v2 skip
# --------------------------------------------------------------------

# MPEG-1 bitrate tables, kbps, index 1..14 (0 = free, 15 = bad)
_BITRATE_V1 = {
    1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
# MPEG-2 LSF bitrate tables (ISO 13818-3; layers II and III share one)
_BITRATE_V2 = {
    1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SAMPLE_RATE_V1 = [44100, 48000, 32000]
_SAMPLE_RATE_V2 = [22050, 24000, 16000]  # MPEG-2 LSF
_SAMPLE_RATE_V25 = [11025, 12000, 8000]  # MPEG-2.5 (de-facto)
_SAMPLES_PER_FRAME = {1: 384, 2: 1152, 3: 1152}  # MPEG-1, per layer


def mpeg_samples_per_frame(version: int, layer: int) -> int:
    """Decoded samples per frame: layer III halves to 576 under the
    LSF extensions (one granule per frame); layers I/II unchanged."""
    if layer == 3 and version != 1:
        return 576
    return _SAMPLES_PER_FRAME[layer]


def _id3v2_size(blob: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 if none): 10-byte
    header with a 28-bit syncsafe length."""
    if len(blob) < 10 or blob[:3] != b"ID3":
        return 0
    size = (
        (blob[6] & 0x7F) << 21
        | (blob[7] & 0x7F) << 14
        | (blob[8] & 0x7F) << 7
        | (blob[9] & 0x7F)
    )
    # a stomped size field must not send frame walks past the bytes
    # that actually exist
    return min(10 + size, len(blob))


@guard("mpeg-audio")
def parse_mpeg_audio_frames(blob: bytes) -> tuple[int, list[dict]]:
    """Walk MPEG-1 audio frames: returns (id3_bytes, frames) where
    each frame dict has layer/kbps/sample_rate/padding/length/offset.
    Frame length arithmetic per ISO 11172-3: layers II/III are
    144*bitrate/samplerate + padding; layer I is
    (12*bitrate/samplerate + padding) * 4 (4-byte slots)."""
    id3 = _id3v2_size(blob)
    end = len(blob)
    try:
        return id3, _walk_mpeg_frames(blob, id3, end)
    except ValueError:
        # real-world MP3s routinely end with a 128-byte ID3v1 'TAG'
        # trailer; tolerate it (retry-on-failure so a valid frame that
        # merely CONTAINS the bytes 'TAG' at len-128 is never trimmed)
        if end - id3 >= 128 and blob[end - 128 : end - 125] == b"TAG":
            return id3, _walk_mpeg_frames(blob, id3, end - 128)
        raise


def _walk_mpeg_frames(blob: bytes, pos: int, end: int) -> list[dict]:
    frames: list[dict] = []
    while pos + 4 <= end:
        b0, b1, b2, b3 = blob[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost frame sync at offset {pos}")
        version_bits = (b1 >> 3) & 0x3
        version = {0b11: 1, 0b10: 2, 0b00: 25}.get(version_bits)
        if version is None:
            raise ValueError(f"reserved MPEG version bits at {pos}")
        layer = {0b11: 1, 0b10: 2, 0b01: 3}.get((b1 >> 1) & 0x3)
        if layer is None:
            raise ValueError(f"reserved layer bits at offset {pos}")
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError(f"bad bitrate/samplerate index at {pos}")
        kbps = (_BITRATE_V1 if version == 1 else _BITRATE_V2)[layer][
            br_idx
        ]
        sr = {
            1: _SAMPLE_RATE_V1, 2: _SAMPLE_RATE_V2, 25: _SAMPLE_RATE_V25,
        }[version][sr_idx]
        padding = (b2 >> 1) & 0x1
        if layer == 1:
            length = (12 * kbps * 1000 // sr + padding) * 4
        elif layer == 3 and version != 1:
            # LSF layer III: one granule per frame -> half the slots
            length = 72 * kbps * 1000 // sr + padding
        else:
            length = 144 * kbps * 1000 // sr + padding
        if pos + length > end:
            raise ValueError(f"truncated frame at offset {pos}")
        frames.append(
            {
                "offset": pos,
                "version": version,
                "layer": layer,
                "kbps": kbps,
                "sample_rate": sr,
                "padding": padding,
                "length": length,
            }
        )
        pos += length
    if pos != end:
        raise ValueError("trailing garbage after last frame")
    return frames


def _mp3_params(mid: int) -> tuple[int, int, int]:
    """Deterministic per-id MP3 parameters (oracle-mirrored):
    (id3_body_len, sample_rate_index, n_frames)."""
    return mid % 13, mid % 3, 4 + mid % 5


def _mp3_blob(mid: int) -> bytes:
    id3_body, sr_idx, n_frames = _mp3_params(mid)
    sr = _SAMPLE_RATE_V1[sr_idx]
    out = bytearray()
    out += b"ID3\x03\x00\x00" + bytes(
        [(id3_body >> 21) & 0x7F, (id3_body >> 14) & 0x7F,
         (id3_body >> 7) & 0x7F, id3_body & 0x7F]
    )
    out += bytes((mid * 3 + j) % 251 for j in range(id3_body))
    for f in range(n_frames):
        br_idx = 9 + (mid + f) % 5  # kbps in {128,160,192,224,256}
        kbps = _BITRATE_V1[3][br_idx]
        padding = (mid + f) % 2
        length = 144 * kbps * 1000 // sr + padding
        hdr = bytes(
            [
                0xFF,
                0xFB,  # MPEG-1 layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | (padding << 1),
                0xC4,  # mono, original
            ]
        )
        body = bytes((mid * 7 + f * 11 + j) % 256 for j in range(length - 4))
        out += hdr + body
    return bytes(out)


def _mpeg2_params(mid: int) -> tuple[int, int, int]:
    """(version 2|25, sr_idx, n_frames), oracle-mirrored."""
    return (25 if mid % 5 == 0 else 2, mid % 3, 3 + mid % 4)


def _mpeg2_blob(mid: int) -> bytes:
    """MPEG-2 / MPEG-2.5 (LSF) layer-III streams: half sample rates,
    the ISO 13818-3 V2 bitrate table, and the 72-slot frame length
    (one granule per frame)."""
    version, sr_idx, n_frames = _mpeg2_params(mid)
    sr = (_SAMPLE_RATE_V2 if version == 2 else _SAMPLE_RATE_V25)[
        sr_idx
    ]
    ver_bits = 0b10 if version == 2 else 0b00
    out = bytearray()
    for f in range(n_frames):
        br_idx = 2 + (mid + f) % 8  # kbps in {16..80} (V2 L3 table)
        kbps = _BITRATE_V2[3][br_idx]
        length = 72 * kbps * 1000 // sr
        hdr = bytes(
            [
                0xFF,
                0xE0 | (ver_bits << 3) | (0b01 << 1) | 1,  # L3 no CRC
                (br_idx << 4) | (sr_idx << 2),
                0xC4,
            ]
        )
        out += hdr + bytes(
            (mid * 7 + f * 3 + j) % 253 for j in range(length - 4)
        )
    return bytes(out)


def synthesize_mpeg2(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _mpeg2_blob)


def synthesize_mp3(documents: DataFrame) -> DataFrame:
    """Valid MPEG-1 layer-III files (ID3v2 tag + VBR frame sequence)
    per doc_id; frame BODIES are deterministic filler -- the layer-III
    sample decode needs an external codec (module docstring), the
    framing being walked here is real."""
    return _synthesize_media(documents, _mp3_blob)


MP3_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_count", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("total_bytes", LongType()),
        StructField("id3_bytes", IntegerType()),
        StructField("kbps_min", IntegerType()),
        StructField("kbps_max", IntegerType()),
        StructField("is_vbr", IntegerType()),
    ]
)


def mp3_frame_stats(media: DataFrame) -> DataFrame:
    """Per-file framing profile from the real MPEG-audio walk: frame
    count, exact stream duration basis (total_samples / sample_rate),
    byte extent, bitrate envelope, VBR flag."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MP3_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                id3, frames = parse_mpeg_audio_frames(bytes(blob))
                if not frames:
                    raise ValueError(
                        f"no MPEG frames for media_id={int(mid)}"
                    )
                sr = frames[0]["sample_rate"]
                kbps = [f["kbps"] for f in frames]
                rows["media_id"].append(int(mid))
                rows["frame_count"].append(len(frames))
                rows["sample_rate"].append(sr)
                rows["total_samples"].append(
                    sum(
                        mpeg_samples_per_frame(f["version"], f["layer"])
                        for f in frames
                    )
                )
                rows["total_bytes"].append(
                    sum(f["length"] for f in frames)
                )
                rows["id3_bytes"].append(id3)
                rows["kbps_min"].append(min(kbps))
                rows["kbps_max"].append(max(kbps))
                rows["is_vbr"].append(int(min(kbps) != max(kbps)))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, MP3_STATS
    )


# --------------------------------------------------------------------
# MPEG-1 Layer I subband decode (ISO 11172-3 2.4.3.3)
# --------------------------------------------------------------------
#
# What is REAL: the complete Layer I bitstream layout -- 4-bit
# allocation per subband (code a -> a+1 sample bits), 6-bit
# scalefactors, 12 granules x 32 subbands sample order -- and the
# mid-tread dequantization rule as published in the ISO reference
# decoder (dist10):
#     fraction = c / 2^(nb-1) - 1
#     s''      = (fraction + 2^(1-nb)) * 2^nb / (2^nb - 1)
#              = 2 * (c + 1 - 2^(nb-1)) / (2^nb - 1)
#     sample   = scalefactor[idx] * s''
# What still needs a spec table: the polyphase synthesis window
# (ISO table C.1, 512 coefficients, not closed-form), so decode stops
# at scaled SUBBAND samples -- the domain audio fingerprints and
# energy features are computed in anyway.


class _BitWriterMSB:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def tobytes(self, pad_to: int) -> bytes:
        bits = self.bits + [0] * (pad_to * 8 - len(self.bits))
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class _BitReaderMSB:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


# Layer I scalefactor table is closed-form: sf[idx] = 2 * 2^(-idx/3)
def layer1_scalefactor(idx: int) -> float:
    return 2.0 * 2.0 ** (-idx / 3.0)


def encode_mpeg1_layer1_frame(
    alloc: list[int],
    sfidx: list[int],
    codes,  # [granule][subband] -> int, only where alloc > 0
    sample_rate: int = 32000,
) -> bytes:
    """Build one valid MPEG-1 Layer I frame (mono, no CRC): pick the
    smallest table bitrate whose frame length holds the payload, pad
    the tail with zero bits (ancillary data, legal per the spec)."""
    sr_idx = _SAMPLE_RATE_V1.index(sample_rate)
    bw = _BitWriterMSB()
    for sb in range(32):
        bw.write(alloc[sb], 4)
    for sb in range(32):
        if alloc[sb]:
            bw.write(sfidx[sb], 6)
    for g in range(12):
        for sb in range(32):
            if alloc[sb]:
                bw.write(codes[g][sb], alloc[sb] + 1)
    need = 4 + (len(bw.bits) + 7) // 8
    for br_idx in range(1, 15):
        kbps = _BITRATE_V1[1][br_idx]
        length = (12 * kbps * 1000 // sample_rate) * 4
        if length >= need:
            break
    else:
        raise ValueError("payload exceeds the largest Layer I frame")
    hdr = bytes(
        [
            0xFF,
            0xFF,  # MPEG-1, layer I, no CRC
            (br_idx << 4) | (sr_idx << 2),  # no padding
            0xC4,  # mono, original
        ]
    )
    return hdr + bw.tobytes(length - 4)


@guard("mpeg-layer1")
def decode_mpeg1_layer1_frame(frame: bytes):
    """One Layer I frame -> list of (subband, granule, sample) scaled
    subband samples. Validates the header via the shared frame walk
    rules (layer bits, bitrate/samplerate indices)."""
    b1 = frame[1]
    if frame[0] != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError("bad sync")
    if ((b1 >> 1) & 0x3) != 0b11:
        raise ValueError("not layer I")
    br = _BitReaderMSB(frame[4:])
    alloc = [br.read(4) for _ in range(32)]
    if any(a == 15 for a in alloc):
        raise ValueError("forbidden allocation code 15")
    sfidx = [br.read(6) if alloc[sb] else 0 for sb, _ in enumerate(alloc)]
    out = []
    for g in range(12):
        for sb in range(32):
            a = alloc[sb]
            if not a:
                continue
            nb = a + 1
            c = br.read(nb)
            s2 = 2.0 * (c + 1 - (1 << (nb - 1))) / ((1 << nb) - 1)
            out.append((sb, g, layer1_scalefactor(sfidx[sb]) * s2))
    return out


def _layer1_params(mid: int):
    """Deterministic per-id Layer I content (oracle-mirrored): 2
    frames; per frame, subbands with (sb+mid+f)%4==0 are coded with
    allocation 2+(sb+mid)%3 (3-5 bits) and scalefactor index
    3*((sb+f)%3) (power-of-two scales: 2.0 / 1.0 / 0.5)."""
    frames = []
    for f in range(2):
        alloc = [0] * 32
        sfidx = [0] * 32
        codes = [[0] * 32 for _ in range(12)]
        for sb in range(32):
            if (sb + mid + f) % 4 != 0:
                continue
            a = 2 + (sb + mid) % 3
            alloc[sb] = a
            sfidx[sb] = 3 * ((sb + f) % 3)
            for g in range(12):
                codes[g][sb] = (mid * 7 + f * 11 + sb * 5 + g * 3) % (
                    1 << (a + 1)
                )
        frames.append((alloc, sfidx, codes))
    return frames


def _layer1_blob(mid: int) -> bytes:
    return b"".join(
        encode_mpeg1_layer1_frame(a, s, c) for a, s, c in _layer1_params(mid)
    )


def synthesize_layer1(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _layer1_blob)


LAYER1_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_coded", LongType()),
        StructField("sum_micro", LongType()),
        StructField("sum_abs_micro", LongType()),
    ]
)


def decode_layer1(media: DataFrame) -> DataFrame:
    """Real Layer I subband decode over the frame walk: per file,
    every coded sample dequantized; samples quantize to micro units
    (floor(s*1e6+0.5)) BEFORE summing so the totals are exact
    bigints (order-independent, engine-exact: s is a pure IEEE
    expression over exact integers and power-of-two scalefactors)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = {k.name: [] for k in LAYER1_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                _, frames = parse_mpeg_audio_frames(blob)
                total = 0
                total_abs = 0
                n = 0
                for fr in frames:
                    if fr["layer"] != 1:
                        raise NotImplementedError(
                            "layer II/III sample decode needs spec "
                            "tables; layer I is real"
                        )
                    samples = decode_mpeg1_layer1_frame(
                        blob[fr["offset"] : fr["offset"] + fr["length"]]
                    )
                    for _, _, s in samples:
                        m = math.floor(s * 1e6 + 0.5)
                        total += m
                        total_abs += abs(m)
                    n += len(samples)
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["n_coded"].append(n)
                rows["sum_micro"].append(total)
                rows["sum_abs_micro"].append(total_abs)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _decode, LAYER1_STATS
    )


# --------------------------------------------------------------------
# MPEG-1 Layer II decode (ISO 11172-3 2.4.3.3.2, table B.2a)
# --------------------------------------------------------------------
#
# What is REAL: the complete mono Layer II bitstream -- per-subband
# bit allocation driven by spec table B.2a (sblimit 27; 4-bit
# allocation for subbands 0-10, 3-bit for 11-22, 2-bit for 23-26,
# with the published level ladders), scfsi-compressed scalefactors
# (2 bits per coded subband selecting 3/2/1 transmitted 6-bit
# indices), triplet sample transmission with GROUPING for the 3/5/9-
# level classes (three samples packed base-n into 5/7/10 bits), and
# the requantization rule.  The spec's table B.4 C/D constants reduce
# algebraically to the exact rational mid-tread form used here:
#     s'' = (2c + 1 - n) / n          (n = number of levels)
# (for n = 2^k - 1 this is the Layer I formula; for grouped n the C/D
# pairs 4/3+1/2, 8/5+1/2, 16/9+1/2 expand to the same expression), so
# no decimal constants are copied -- only the integer level ladders,
# which are the published allocation table.
# 1152 samples per frame = 36 granules of 32 subband samples.

# table B.2a level ladders (48/44.1 kHz high-rate table): subbands
# 0-2 use the unstepped 4-bit ladder, 3-10 the stepped 4-bit ladder,
# 11-22 the 3-bit ladder, 23-26 the 2-bit ladder
_L2_LADDER_A = [3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
                8191, 16383, 32767, 65535]
_L2_LADDER_B = [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
                4095, 8191, 65535]
_L2_LADDER_C = [3, 5, 7, 9, 15, 31, 65535]
_L2_LADDER_D = [3, 5, 65535]
_L2_SBLIMIT = 27


def _l2_table_a(sb: int) -> tuple[int, list[int]]:
    """(allocation bits, level ladder) for subband `sb` under table
    B.2a."""
    if sb < 3:
        return 4, _L2_LADDER_A
    if sb < 11:
        return 4, _L2_LADDER_B
    if sb < 23:
        return 3, _L2_LADDER_C
    return 2, _L2_LADDER_D


# grouped classes: 3 samples packed base-n into one code word
_L2_GROUP_BITS = {3: 5, 5: 7, 9: 10}


def encode_mpeg1_layer2_frame(
    alloc_idx: list[int],
    scfsi: list[int],
    sfidx,  # [subband][part] -> 6-bit scalefactor index
    codes,  # [granule 0..11][subband] -> (c0, c1, c2) raw codes
    sample_rate: int = 48000,
) -> bytes:
    """Build one valid mono MPEG-1 Layer II frame (no CRC): alloc,
    scfsi, scalefactors per scfsi mode, 12 triplet granules (grouped
    where the ladder says so), zero-bit-padded to the smallest table
    bitrate that fits (legal ancillary data)."""
    sr_idx = _SAMPLE_RATE_V1.index(sample_rate)
    bw = _BitWriterMSB()
    for sb in range(_L2_SBLIMIT):
        bits, _ = _l2_table_a(sb)
        bw.write(alloc_idx[sb], bits)
    for sb in range(_L2_SBLIMIT):
        if alloc_idx[sb]:
            bw.write(scfsi[sb], 2)
    for sb in range(_L2_SBLIMIT):
        if not alloc_idx[sb]:
            continue
        mode = scfsi[sb]
        if mode == 0:
            parts = (0, 1, 2)
        elif mode == 2:
            parts = (0,)
        else:  # 1: parts (0,1) share, 3: parts (1,2) share
            parts = (0, 2) if mode == 1 else (0, 1)
        for p in parts:
            bw.write(sfidx[sb][p], 6)
    for g in range(12):
        for sb in range(_L2_SBLIMIT):
            a = alloc_idx[sb]
            if not a:
                continue
            _, ladder = _l2_table_a(sb)
            n = ladder[a - 1]
            c0, c1, c2 = codes[g][sb]
            if n in _L2_GROUP_BITS:
                bw.write(
                    c0 + n * c1 + n * n * c2, _L2_GROUP_BITS[n]
                )
            else:
                nb = (n + 1).bit_length() - 1
                bw.write(c0, nb)
                bw.write(c1, nb)
                bw.write(c2, nb)
    need = 4 + (len(bw.bits) + 7) // 8
    for br_idx in range(1, 15):
        kbps = _BITRATE_V1[2][br_idx]
        length = 144 * kbps * 1000 // sample_rate
        if length >= need:
            break
    else:
        raise ValueError("payload exceeds the largest Layer II frame")
    hdr = bytes(
        [
            0xFF,
            0xFD,  # MPEG-1, layer II, no CRC
            (br_idx << 4) | (sr_idx << 2),  # no padding
            0xC4,  # mono, original
        ]
    )
    return hdr + bw.tobytes(length - 4)


def _l2_expand_scfsi(mode: int, transmitted: list[int]) -> list[int]:
    """scfsi -> the three per-part scalefactor indices."""
    if mode == 0:
        return list(transmitted)
    if mode == 2:
        return [transmitted[0]] * 3
    if mode == 1:
        return [transmitted[0], transmitted[0], transmitted[1]]
    return [transmitted[0], transmitted[1], transmitted[1]]


@guard("mpeg-layer2")
def decode_mpeg1_layer2_frame(frame: bytes):
    """One mono Layer II frame -> list of (subband, granule 0..35,
    sample) requantized+rescaled subband samples, granule-major so the
    output grid feeds the polyphase synthesis directly."""
    b1 = frame[1]
    if frame[0] != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError("bad sync")
    if ((b1 >> 3) & 0x3) != 0b11:
        raise NotImplementedError(
            "MPEG-2 (LSF) layer II uses different allocation tables"
        )
    if ((b1 >> 1) & 0x3) != 0b10:
        raise ValueError("not layer II")
    # protection_bit (ISO 11172-3 2.4.2.3): 0 means a 16-bit CRC
    # follows the header BEFORE the audio data; skip it so the
    # allocation read starts on real bits (the CRC itself is not
    # validated -- error detection, not decode, is its only role)
    audio_start = 4 if (b1 & 0x1) else 6
    br = _BitReaderMSB(frame[audio_start:])
    alloc = []
    for sb in range(_L2_SBLIMIT):
        bits, ladder = _l2_table_a(sb)
        idx = br.read(bits)
        if idx > len(ladder):
            raise ValueError(f"allocation index {idx} exceeds ladder")
        alloc.append(idx)
    scfsi = [br.read(2) if alloc[sb] else 0 for sb in range(_L2_SBLIMIT)]
    sf = [[0, 0, 0] for _ in range(_L2_SBLIMIT)]
    for sb in range(_L2_SBLIMIT):
        if not alloc[sb]:
            continue
        count = {0: 3, 1: 2, 2: 1, 3: 2}[scfsi[sb]]
        sf[sb] = _l2_expand_scfsi(
            scfsi[sb], [br.read(6) for _ in range(count)]
        )
    out = []
    for g in range(12):
        part = g // 4
        for sb in range(_L2_SBLIMIT):
            a = alloc[sb]
            if not a:
                continue
            _, ladder = _l2_table_a(sb)
            n = ladder[a - 1]
            if n in _L2_GROUP_BITS:
                v = br.read(_L2_GROUP_BITS[n])
                triple = (v % n, (v // n) % n, v // (n * n))
                if triple[2] >= n:
                    raise ValueError("grouped code out of range")
            else:
                nb = (n + 1).bit_length() - 1
                triple = (br.read(nb), br.read(nb), br.read(nb))
            scale = layer1_scalefactor(sf[sb][part])
            for t, c in enumerate(triple):
                s2 = (2.0 * c + 1.0 - n) / n
                out.append((sb, 3 * g + t, scale * s2))
    return out


def _layer2_params(mid: int):
    """Deterministic mono Layer II content (oracle-mirrored), one
    frame: subbands with (sb + mid) % 5 == 0 are coded; the
    allocation index walks the bottom of each ladder (covering the
    grouped 3/5/9 classes and an ungrouped one), scfsi cycles all
    four modes, scalefactor indices stay on the power-of-two grid
    (0/3/6) so rescaling is IEEE-exact."""
    alloc_idx = [0] * _L2_SBLIMIT
    scfsi = [0] * _L2_SBLIMIT
    sfidx = [[0, 0, 0] for _ in range(_L2_SBLIMIT)]
    codes = [[(0, 0, 0)] * _L2_SBLIMIT for _ in range(12)]
    for sb in range(_L2_SBLIMIT):
        if (sb + mid) % 5 != 0:
            continue
        bits, ladder = _l2_table_a(sb)
        a = 1 + (sb + mid) % min(4, len(ladder))
        alloc_idx[sb] = a
        scfsi[sb] = (sb + mid) % 4
        sfidx[sb] = [
            3 * ((sb + mid) % 3),
            3 * ((sb + mid + 1) % 3),
            3 * ((sb + mid + 2) % 3),
        ]
        n = ladder[a - 1]
        for g in range(12):
            codes[g][sb] = tuple(
                (mid * 7 + sb * 5 + g * 3 + t) % n for t in range(3)
            )
    return alloc_idx, scfsi, sfidx, codes


def _layer2_blob(mid: int) -> bytes:
    return encode_mpeg1_layer2_frame(*_layer2_params(mid))


def synthesize_layer2(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _layer2_blob)


LAYER2_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_coded", LongType()),
        StructField("sum_micro", LongType()),
        StructField("sum_abs_micro", LongType()),
    ]
)


def decode_layer2(media: DataFrame) -> DataFrame:
    """Real Layer II decode over the frame walk: every transmitted
    sample degrouped, requantized ((2c+1-n)/n) and rescaled; micro-
    quantized before summing (the decode_layer1 exactness
    discipline)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = {k.name: [] for k in LAYER2_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                _, frames = parse_mpeg_audio_frames(blob)
                total = 0
                total_abs = 0
                n = 0
                for fr in frames:
                    if fr["layer"] != 2:
                        raise NotImplementedError(
                            "expected a Layer II stream"
                        )
                    samples = decode_mpeg1_layer2_frame(
                        blob[fr["offset"] : fr["offset"] + fr["length"]]
                    )
                    for _, _, s in samples:
                        m = math.floor(s * 1e6 + 0.5)
                        total += m
                        total_abs += abs(m)
                    n += len(samples)
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["n_coded"].append(n)
                rows["sum_micro"].append(total)
                rows["sum_abs_micro"].append(total_abs)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _decode, LAYER2_STATS
    )


# --------------------------------------------------------------------
# EXIF / TIFF metadata (JPEG APP1) -- both byte orders, nested IFDs
# --------------------------------------------------------------------


def _tiff_entry(order: str, tag: int, typ: int, count: int, value) -> bytes:
    e = struct.pack(order + "HHI", tag, typ, count)
    if isinstance(value, bytes):
        return e + value.ljust(4, b"\x00")[:4]
    return e + struct.pack(order + "I", value)


def build_exif_tiff(
    byte_order: str,  # 'II' or 'MM'
    width: int,
    height: int,
    orientation: int,
    make: str,
    iso: int,
    fnumber: tuple[int, int],
) -> bytes:
    """Minimal real TIFF/EXIF block: IFD0 (dims, orientation, Make as
    an out-of-line ASCII value, Exif sub-IFD pointer) + Exif IFD (ISO
    short, FNumber RATIONAL out-of-line)."""
    order = "<" if byte_order == "II" else ">"
    make_b = make.encode("ascii") + b"\x00"
    # layout: header(8) IFD0(2+5*12+4) exif_ifd(2+2*12+4) make fnum
    ifd0_at = 8
    exif_at = ifd0_at + 2 + 5 * 12 + 4
    make_at = exif_at + 2 + 2 * 12 + 4
    fnum_at = make_at + len(make_b)
    hdr = (byte_order.encode("ascii")
           + struct.pack(order + "HI", 42, ifd0_at))
    ifd0 = struct.pack(order + "H", 5)
    ifd0 += _tiff_entry(order, 0x0100, 3, 1,
                        struct.pack(order + "HH", width, 0))
    ifd0 += _tiff_entry(order, 0x0101, 3, 1,
                        struct.pack(order + "HH", height, 0))
    # TIFF rule: values of <= 4 bytes are stored INLINE in the value
    # field (left-justified); only wider values live at an offset
    if len(make_b) <= 4:
        ifd0 += _tiff_entry(order, 0x010F, 2, len(make_b), make_b)
    else:
        ifd0 += _tiff_entry(order, 0x010F, 2, len(make_b), make_at)
    ifd0 += _tiff_entry(order, 0x0112, 3, 1,
                        struct.pack(order + "HH", orientation, 0))
    ifd0 += _tiff_entry(order, 0x8769, 4, 1, exif_at)
    ifd0 += struct.pack(order + "I", 0)  # no next IFD
    exif = struct.pack(order + "H", 2)
    exif += _tiff_entry(order, 0x829D, 5, 1, fnum_at)  # FNumber
    exif += _tiff_entry(order, 0x8827, 3, 1,
                        struct.pack(order + "HH", iso, 0))
    exif += struct.pack(order + "I", 0)
    tail = make_b + struct.pack(order + "II", *fnumber)
    return hdr + ifd0 + exif + tail


@guard("exif-tiff")
def parse_exif_tiff(tiff: bytes) -> dict:
    """Real TIFF IFD walk: both byte orders, SHORT/LONG/ASCII/
    RATIONAL values, inline vs out-of-line storage (values wider than
    4 bytes live at an offset), nested Exif IFD via tag 0x8769."""
    bo = tiff[:2]
    if bo == b"II":
        order = "<"
    elif bo == b"MM":
        order = ">"
    else:
        raise ValueError(f"bad TIFF byte order {bo!r}")
    magic, ifd0 = struct.unpack(order + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")

    def read_value(typ, count, raw):
        if typ == 3:  # SHORT
            return struct.unpack(order + "H", raw[:2])[0]
        if typ == 4:  # LONG
            return struct.unpack(order + "I", raw[:4])[0]
        raise ValueError(f"inline type {typ} unsupported")

    def walk(ifd_at, out):
        (n,) = struct.unpack(order + "H", tiff[ifd_at : ifd_at + 2])
        for i in range(n):
            e = ifd_at + 2 + 12 * i
            tag, typ, count = struct.unpack(
                order + "HHI", tiff[e : e + 8]
            )
            raw = tiff[e + 8 : e + 12]
            if typ == 2:  # ASCII, NUL-terminated, usually out-of-line
                off = struct.unpack(order + "I", raw)[0] if count > 4 else e + 8
                val = tiff[off : off + count].split(b"\x00", 1)[0].decode(
                    "ascii"
                )
            elif typ == 5:  # RATIONAL: 2 LONGs at offset
                off = struct.unpack(order + "I", raw)[0]
                val = struct.unpack(order + "II", tiff[off : off + 8])
            else:
                val = read_value(typ, count, raw)
            if tag == 0x8769:
                if not isinstance(val, int) or val in seen:
                    raise ValueError("bad Exif IFD pointer")
                seen.add(val)
                walk(val, out)
            else:
                out[tag] = val
        return out

    seen = {ifd0}
    out = walk(ifd0, {"byte_order": bo.decode("ascii")})
    return out


def embed_exif_jpeg(jpeg: bytes, tiff: bytes) -> bytes:
    """Insert an APP1 Exif segment right after SOI -- where real
    cameras put it."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    return jpeg[:2] + app1 + jpeg[2:]


@guard("jpeg-exif")
def extract_exif_from_jpeg(jpeg: bytes) -> dict | None:
    """Marker walk to the APP1 Exif segment (skipping other APPn);
    None when the image carries no Exif."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise ValueError(f"bad marker at {pos}")
        marker = jpeg[pos + 1]
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no more APPn
            return None
        (seg_len,) = struct.unpack(">H", jpeg[pos + 2 : pos + 4])
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return parse_exif_tiff(jpeg[pos + 10 : pos + 2 + seg_len])
        pos += 2 + seg_len
    raise ValueError("truncated JPEG marker stream")


def _exif_params(mid: int):
    return {
        "byte_order": "II" if mid % 2 == 0 else "MM",
        "width": 8 * (1 + mid % 3),
        "height": 8,
        "orientation": 1 + mid % 8,
        "make": f"cam-{mid % 5}",
        "iso": 100 * (1 + mid % 4),
        "fnumber": (28 + 10 * (mid % 3), 10),
    }


def _exif_blob(mid: int) -> bytes:
    p = _exif_params(mid)
    w, h = p["width"], p["height"]
    import numpy as np  # noqa: F811 -- kernel-local

    px = np.full(w * h, (mid * 7) % 256, dtype=np.int64)
    jpeg = encode_jpeg_gray(w, h, px)
    tiff = build_exif_tiff(
        p["byte_order"], w, h, p["orientation"], p["make"], p["iso"],
        p["fnumber"],
    )
    return embed_exif_jpeg(jpeg, tiff)


def synthesize_exif_jpeg(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _exif_blob)


EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("byte_order", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("iso", IntegerType()),
        StructField("fnum_num", IntegerType()),
        StructField("fnum_den", IntegerType()),
        StructField("decoded_sum", LongType()),
    ]
)


def exif_metadata(media: DataFrame) -> DataFrame:
    """APP1 Exif walk + TIFF IFD parse per image, AND a real decode of
    the carrying JPEG through the in-repo T.81 kernel (proving the
    APP1 injection left the image intact)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in EXIF_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                meta = extract_exif_from_jpeg(blob)
                if meta is None:
                    raise ValueError(
                        f"missing Exif for media_id={int(mid)}"
                    )
                _, _, gray = parse_jpeg_gray(blob)
                rows["media_id"].append(int(mid))
                rows["byte_order"].append(meta["byte_order"])
                rows["width"].append(meta[0x0100])
                rows["height"].append(meta[0x0101])
                rows["orientation"].append(meta[0x0112])
                rows["make"].append(meta[0x010F])
                rows["iso"].append(meta[0x8827])
                rows["fnum_num"].append(meta[0x829D][0])
                rows["fnum_den"].append(meta[0x829D][1])
                rows["decoded_sum"].append(int(gray.sum()))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _extract, EXIF_SCHEMA
    )


SHOT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_shots", IntegerType()),
        StructField("max_delta", LongType()),
        StructField("mean_frame_sum", LongType()),
    ]
)


def detect_shots(media: DataFrame, threshold: int = 16) -> DataFrame:
    """Shot-boundary detection over a motion-JPEG track: demux the
    video samples, decode EVERY frame through the in-repo T.81
    kernel, and cut where the mean-luma jump between consecutive
    frames exceeds `threshold` gray levels -- the classic
    pixel-difference shot detector, here on exact integers (frame
    sums are exact for the flat-block fixtures, and the decision
    rule is integer arithmetic end to end: delta is computed on
    per-pixel MEAN luma scaled by 256, so threshold*256 is the cut).

    A video-temporal feature the training-data tier needs for frame
    sampling (sample per shot, not per N frames). Runs per blob in
    the demux kernel -- no shuffle, frame payloads never leave the
    task.
    """

    def _detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in SHOT_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                video = [
                    t
                    for t in parse_mp4_tracks(blob)
                    if t["handler"] == "vide"
                ]
                if len(video) != 1:
                    raise ValueError(
                        f"expected 1 video track for media_id={int(mid)}"
                    )
                sums = []
                npx = 1
                for sample in extract_track_samples(blob, video[0]):
                    w, h, gray = parse_jpeg_gray(sample)
                    npx = w * h
                    sums.append(int(gray.sum()))
                # mean luma x256 per frame: exact integers
                m256 = [s * 256 // npx for s in sums]
                deltas = [
                    abs(b - a) for a, b in zip(m256, m256[1:])
                ]
                cuts = sum(1 for d in deltas if d > threshold * 256)
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(sums))
                rows["n_shots"].append(1 + cuts if sums else 0)
                rows["max_delta"].append(max(deltas) if deltas else 0)
                rows["mean_frame_sum"].append(
                    sum(sums) // len(sums) if sums else 0
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _detect, SHOT_SCHEMA
    )


# --------------------------------------------------------------------
# Fragmented MP4 (fMP4 / CMAF -- the DASH/HLS on-the-wire layout)
# --------------------------------------------------------------------
#
# Streaming media never ships one big moov: an INIT segment carries
# empty sample tables plus mvex/trex defaults, and each fragment is a
# moof (mfhd sequence, tfhd defaults, tfdt decode time, trun sample
# runs) followed by its mdat. A crawl that stores DASH/HLS segments
# must resolve samples through THIS path -- the stbl walk above never
# sees them.

_TFHD_BASE_OFFSET = 0x1
_TFHD_DEFAULT_DURATION = 0x8
_TFHD_DEFAULT_SIZE = 0x10
_TFHD_BASE_IS_MOOF = 0x20000
_TRUN_DATA_OFFSET = 0x1
_TRUN_SAMPLE_DURATION = 0x100
_TRUN_SAMPLE_SIZE = 0x200


def encode_fmp4_bytes(
    fragments: list[list[bytes]],
    video_wh: tuple[int, int],
    default_duration: int = 3000,
    timescale: int = 90000,
) -> bytes:
    """Init segment + one moof/mdat pair per fragment (motion-JPEG
    samples). tfhd carries default-base-is-moof + default duration;
    trun carries per-sample sizes and the data offset."""
    w, h = video_wh
    empty_stbl = _stbl(
        _visual_entry_jpeg(w, h),
        stts=[], stsc=[], sample_sizes=[], sample_count=0,
        chunk_offsets=[],
    )
    trex = _full(
        b"trex", 0, 0,
        struct.pack(">IIIII", 1, 1, default_duration, 0, 0),
    )
    mvex = _box(b"mvex", trex)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, 0)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + _MATRIX + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _box(
        b"moov",
        mvhd + _trak(1, b"vide", timescale, 0, (w, h), empty_stbl) + mvex,
    )
    out = bytearray(
        _box(b"ftyp", b"iso5" + struct.pack(">I", 0x200) + b"iso5dash")
        + moov
    )
    decode_time = 0
    for seq, samples in enumerate(fragments, start=1):
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        tfhd = _full(
            b"tfhd", 0,
            _TFHD_DEFAULT_DURATION | _TFHD_BASE_IS_MOOF,
            struct.pack(">II", 1, default_duration),
        )
        tfdt = _full(b"tfdt", 1, 0, struct.pack(">Q", decode_time))
        trun_body = struct.pack(">I", len(samples))
        # data_offset placeholder patched after moof size is known
        trun_body += struct.pack(">i", 0)
        trun_body += b"".join(
            struct.pack(">I", len(s)) for s in samples
        )
        trun = _full(
            b"trun", 0, _TRUN_DATA_OFFSET | _TRUN_SAMPLE_SIZE, trun_body
        )
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = bytearray(_box(b"moof", mfhd + traf))
        # patch the trun data_offset: first sample starts right after
        # the mdat header, relative to moof start
        data_offset = len(moof) + 8
        off_at = moof.rfind(b"trun") + 4 + 4 + 4  # tag+verflags+count
        moof[off_at : off_at + 4] = struct.pack(">i", data_offset)
        out += moof
        out += _box(b"mdat", b"".join(samples))
        decode_time += len(samples) * default_duration
    return bytes(out)


@guard("fmp4")
def parse_fmp4_fragments(blob: bytes) -> dict:
    """Resolve a fragmented MP4: trex defaults from the init segment,
    then per-moof tfhd/tfdt/trun walk to absolute (offset, size)
    sample locations. Returns {width, height, timescale,
    default_duration, fragments: [{seq, decode_time, samples}]}."""
    moov = _find(blob, 0, len(blob), b"moov")
    if moov is None:
        raise ValueError("fMP4 without init moov")
    mvex = _find(blob, *moov, b"mvex")
    if mvex is None:
        raise ValueError("not fragmented: no mvex/trex")
    trex = _need(blob, *mvex, b"trex")
    _, _, trex_duration, trex_size, _ = struct.unpack(
        ">IIIII", blob[trex[0] + 4 : trex[0] + 24]
    )
    trak = _need(blob, *moov, b"trak")
    mdia = _need(blob, *trak, b"mdia")
    mdhd = _need(blob, *mdia, b"mdhd")
    timescale = struct.unpack(">I", blob[mdhd[0] + 12 : mdhd[0] + 16])[0]
    minf = _need(blob, *mdia, b"minf")
    stbl = _need(blob, *minf, b"stbl")
    stsd = _need(blob, *stbl, b"stsd")
    entry = stsd[0] + 8
    width, height = struct.unpack(
        ">HH", blob[entry + 32 : entry + 36]
    )

    fragments = []
    for tag, b, e in walk_boxes(blob):
        if tag != b"moof":
            continue
        moof_start = b - 8
        mfhd = _need(blob, b, e, b"mfhd")
        seq = struct.unpack(">I", blob[mfhd[0] + 4 : mfhd[0] + 8])[0]
        traf = _need(blob, b, e, b"traf")
        tfhd = _need(blob, *traf, b"tfhd")
        tf_flags = int.from_bytes(blob[tfhd[0] + 1 : tfhd[0] + 4], "big")
        pos = tfhd[0] + 8  # skip version/flags + track_id
        base_offset = moof_start if tf_flags & _TFHD_BASE_IS_MOOF else 0
        if tf_flags & _TFHD_BASE_OFFSET:
            base_offset = struct.unpack(">Q", blob[pos : pos + 8])[0]
            pos += 8
        if tf_flags & 0x2:
            pos += 4  # sample_description_index
        default_dur = trex_duration
        if tf_flags & _TFHD_DEFAULT_DURATION:
            default_dur = struct.unpack(">I", blob[pos : pos + 4])[0]
            pos += 4
        default_size = trex_size
        if tf_flags & _TFHD_DEFAULT_SIZE:
            default_size = struct.unpack(">I", blob[pos : pos + 4])[0]
            pos += 4
        tfdt = _need(blob, *traf, b"tfdt")
        tfdt_ver = blob[tfdt[0]]
        decode_time = (
            struct.unpack(">Q", blob[tfdt[0] + 4 : tfdt[0] + 12])[0]
            if tfdt_ver == 1
            else struct.unpack(">I", blob[tfdt[0] + 4 : tfdt[0] + 8])[0]
        )
        trun = _need(blob, *traf, b"trun")
        tr_flags = int.from_bytes(blob[trun[0] + 1 : trun[0] + 4], "big")
        p = trun[0] + 4
        count = struct.unpack(">I", blob[p : p + 4])[0]
        p += 4
        data_off = 0
        if tr_flags & _TRUN_DATA_OFFSET:
            data_off = struct.unpack(">i", blob[p : p + 4])[0]
            p += 4
        if tr_flags & 0x4:
            p += 4  # first_sample_flags
        # a stomped count must not drive the loop: per-sample fields
        # have to fit in the trun box, default-sized samples in the file
        # (0xF00 = duration | size | flags | composition offset)
        width = 4 * bin(tr_flags & 0xF00).count("1")
        if (width and count * width > trun[1] - p) or (
            not width and count * max(default_size, 1) > len(blob)
        ):
            raise ValueError(f"trun sample count {count} overruns its data")
        samples = []
        cursor = base_offset + data_off
        t = decode_time
        for _ in range(count):
            dur = default_dur
            if tr_flags & _TRUN_SAMPLE_DURATION:
                dur = struct.unpack(">I", blob[p : p + 4])[0]
                p += 4
            size = default_size
            if tr_flags & _TRUN_SAMPLE_SIZE:
                size = struct.unpack(">I", blob[p : p + 4])[0]
                p += 4
            if tr_flags & 0x400:
                p += 4  # per-sample flags
            if tr_flags & 0x800:
                p += 4  # composition offset
            samples.append(
                {"offset": cursor, "size": size, "time": t, "dur": dur}
            )
            cursor += size
            t += dur
        fragments.append(
            {"seq": seq, "decode_time": decode_time, "samples": samples}
        )
    if not fragments:
        raise ValueError("fragmented MP4 without moof fragments")
    return {
        "width": width,
        "height": height,
        "timescale": timescale,
        "default_duration": trex_duration,
        "fragments": fragments,
    }


def _fmp4_params(mid: int) -> tuple[int, int]:
    """(n_fragments, samples_per_fragment) -- oracle-mirrored."""
    return 2 + mid % 2, 2


def _fmp4_blob(mid: int) -> bytes:
    n_frag, per = _fmp4_params(mid)
    w = h = 8
    frags = []
    g = 0
    for _ in range(n_frag):
        samples = []
        for _ in range(per):
            px = np.full(w * h, (mid * 7 + g * 13) % 256, dtype=np.int64)
            samples.append(encode_jpeg_gray(w, h, px))
            g += 1
        frags.append(samples)
    return encode_fmp4_bytes(frags, (w, h))


def synthesize_fmp4(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _fmp4_blob)


FMP4_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_fragments", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("total_duration", LongType()),
        StructField("last_decode_time", LongType()),
        StructField("sum_px", LongType()),
    ]
)


def decode_fmp4(media: DataFrame) -> DataFrame:
    """Fragment walk + real frame decode: every trun-resolved sample
    decodes through the in-repo T.81 kernel; durations and decode
    times come from the tfhd/tfdt/trex default chain."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in FMP4_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                info = parse_fmp4_fragments(blob)
                total = 0
                n = 0
                dur = 0
                for frag in info["fragments"]:
                    for smp in frag["samples"]:
                        _, _, gray = parse_jpeg_gray(
                            blob[smp["offset"] : smp["offset"] + smp["size"]]
                        )
                        total += int(gray.sum())
                        dur += smp["dur"]
                        n += 1
                rows["media_id"].append(int(mid))
                rows["n_fragments"].append(len(info["fragments"]))
                rows["n_samples"].append(n)
                rows["total_duration"].append(dur)
                rows["last_decode_time"].append(
                    info["fragments"][-1]["decode_time"]
                )
                rows["sum_px"].append(total)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _decode, FMP4_STATS
    )


# --------------------------------------------------------------------
# ICO icon directories -- PNG and DIB entries (the favicon format)
# --------------------------------------------------------------------
#
# Favicons are the one image container every crawler sees millions of
# times. An ICO is a directory of entries, each either a whole PNG
# (Vista+ encoding) or a HEADERLESS DIB whose InfoHeader height is
# DOUBLED (XOR color image + AND transparency mask stacked) -- the
# quirk naive parsers trip on. Entry decode DELEGATES to the in-repo
# PNG and BMP kernels.

from .multimodal import encode_png_bytes, parse_png_bytes  # noqa: E402
from .multimodal import encode_bmp_bytes, parse_bmp_bytes  # noqa: E402


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def build_ico_bytes(entries: list[tuple[str, int, int, bytes]]) -> bytes:
    """entries: (kind 'png'|'dib', width, height, payload). For 'dib'
    the payload is a full BMP from encode_bmp_bytes; this writer
    strips the 14-byte file header, doubles the InfoHeader height,
    and appends an all-zero AND mask -- producing the real on-disk
    ICO entry layout."""
    import struct

    blobs = []
    for kind, w, h, payload in entries:
        if kind == "png":
            blobs.append(payload)
        elif kind == "dib":
            dib = bytearray(payload[14:])  # drop BITMAPFILEHEADER
            dib[8:12] = struct.pack("<i", 2 * h)  # doubled height
            mask_stride = ((w + 31) // 32) * 4
            blobs.append(bytes(dib) + b"\x00" * (mask_stride * h))
        else:
            raise ValueError(f"unknown entry kind {kind!r}")
    out = bytearray(struct.pack("<HHH", 0, 1, len(entries)))
    data_at = 6 + 16 * len(entries)
    for (kind, w, h, _), blob in zip(entries, blobs):
        out += struct.pack(
            "<BBBBHHII",
            w % 256, h % 256, 0, 0, 1, 24, len(blob), data_at,
        )
        data_at += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


@guard("ico")
def parse_ico_entries(blob: bytes) -> list[dict]:
    """Directory walk + per-entry decode: PNG entries through the
    in-repo PNG kernel, DIB entries through the BMP kernel (height
    un-doubled, a synthetic file header prepended, the AND mask
    dropped). Returns dicts with format/width/height/flat RGB."""
    import struct

    if len(blob) < 6:
        raise ValueError("truncated ICO directory")
    reserved, ico_type, count = struct.unpack("<HHH", blob[:6])
    if reserved != 0 or ico_type != 1:
        raise ValueError("not an ICO file")
    out = []
    for i in range(count):
        e = 6 + 16 * i
        size, offset = struct.unpack("<II", blob[e + 8 : e + 16])
        data = blob[offset : offset + size]
        if len(data) != size:
            raise ValueError(f"truncated ICO entry {i}")
        if data[:8] == _PNG_MAGIC:
            w, h, rgb = parse_png_bytes(data)
            fmt = "png"
        else:
            (hdr_size,) = struct.unpack("<I", data[:4])
            if hdr_size < 40:
                raise ValueError(f"bad DIB header in entry {i}")
            (h2,) = struct.unpack("<i", data[8:12])
            if h2 % 2 != 0:
                raise ValueError(f"entry {i}: DIB height not doubled")
            fixed = bytearray(data)
            fixed[8:12] = struct.pack("<i", h2 // 2)
            bm = (
                b"BM"
                + struct.pack("<IHHI", 14 + len(fixed), 0, 0, 14 + hdr_size)
                + bytes(fixed)
            )
            w, h, rgb = parse_bmp_bytes(bm)
            fmt = "dib"
        out.append(
            {"format": fmt, "width": w, "height": h, "rgb": rgb}
        )
    return out


def _ico_blob(mid: int) -> bytes:
    w1, h1 = 4 + mid % 3, 4
    p = np.arange(w1 * h1 * 3, dtype=np.int64)
    png_px = (mid * 5 + p * 7) % 256
    w2, h2 = 8, 2 + mid % 2
    q = np.arange(w2 * h2 * 3, dtype=np.int64)
    dib_px = (mid * 11 + q * 3) % 256
    return build_ico_bytes(
        [
            ("png", w1, h1, encode_png_bytes(w1, h1, png_px)),
            ("dib", w2, h2, encode_bmp_bytes(w2, h2, dib_px)),
        ]
    )


def synthesize_ico(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _ico_blob)


ICO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("entry_idx", IntegerType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_px", LongType()),
    ]
)


def ico_entries(media: DataFrame) -> DataFrame:
    """One row per icon entry with the decoded pixel sum -- the
    favicon-dedup/feature path."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in ICO_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for i, e in enumerate(parse_ico_entries(bytes(blob))):
                    rows["media_id"].append(int(mid))
                    rows["entry_idx"].append(i)
                    rows["format"].append(e["format"])
                    rows["width"].append(e["width"])
                    rows["height"].append(e["height"])
                    rows["sum_px"].append(int(e["rgb"].sum()))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, ICO_SCHEMA
    )


# --------------------------------------------------------------------
# ID3v2.3 text frames (id3.org spec)
# --------------------------------------------------------------------
#
# The frame walk inside the ID3v2 tag this module already skips
# (_id3v2_size): 10-byte frame headers (4-char id + 32-bit size +
# flags), text frames 'Txxx' with an encoding byte (0 = ISO-8859-1,
# 1 = UTF-16 with BOM, 3 = UTF-8) -- artist/title/album routing for
# audio corpora.


def _syncsafe32(size: int) -> bytes:
    return bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
         (size >> 7) & 0x7F, size & 0x7F]
    )


def build_id3v2(
    frames: list[tuple[str, str]], encoding: int = 3, version: int = 3
) -> bytes:
    """ID3v2.3 or v2.4 tag with the given text frames (encoding 3 =
    UTF-8, 0 = ISO-8859-1).  The wire difference that matters: v2.4
    frame sizes are SYNCSAFE (id3v2.4.0-structure 4), v2.3 sizes are
    plain 32-bit."""
    if version not in (3, 4):
        raise ValueError(f"ID3v2.{version} not supported")
    body = bytearray()
    for fid, text in frames:
        payload = bytes([encoding]) + (
            text.encode("utf-8") if encoding == 3
            else text.encode("latin-1")
        )
        body += fid.encode("ascii")
        body += (
            _syncsafe32(len(payload)) if version == 4
            else len(payload).to_bytes(4, "big")
        )
        body += b"\x00\x00" + payload
    return (
        b"ID3" + bytes([version, 0, 0])
        + _syncsafe32(len(body)) + bytes(body)
    )


@guard("id3v2")
def parse_id3v2_frames(blob: bytes) -> list[dict]:
    """Text frames out of a leading ID3v2.3/v2.4 tag: (frame_id,\n    text).
    Non-text frames are skipped structurally; stops at padding."""
    total = _id3v2_size(blob)
    if total == 0:
        return []
    version = blob[3]
    if version not in (3, 4):
        raise ValueError(f"ID3v2.{version} frame walk not supported")
    pos = 10
    out = []
    while pos + 10 <= total:
        fid = blob[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw_size = blob[pos + 4 : pos + 8]
        if version == 4:  # syncsafe frame sizes (v2.4 structure 4)
            if any(b & 0x80 for b in raw_size):
                raise ValueError(f"non-syncsafe v2.4 frame size at {pos}")
            size = (
                (raw_size[0] << 21) | (raw_size[1] << 14)
                | (raw_size[2] << 7) | raw_size[3]
            )
        else:
            size = int.from_bytes(raw_size, "big")
        if pos + 10 + size > total:
            raise ValueError(f"ID3 frame overruns tag at {pos}")
        data = blob[pos + 10 : pos + 10 + size]
        if fid[0:1] == b"T" and size >= 1:
            enc = data[0]
            raw = data[1:]
            if enc == 0:
                text = raw.decode("latin-1")
            elif enc == 1:
                text = raw.decode("utf-16")
            elif enc == 3:
                text = raw.decode("utf-8")
            else:
                raise ValueError(f"unknown text encoding {enc}")
            out.append(
                {"frame_id": fid.decode("ascii"),
                 "text": text.rstrip("\x00")}
            )
        pos += 10 + size
    return out


def _id3_params(mid: int) -> list[tuple[str, str]]:
    frames = [
        ("TIT2", f"title-{mid}"),
        ("TPE1", f"artist-{mid % 37}"),
        ("TALB", f"album-{mid % 11}"),
    ]
    if mid % 2:
        frames.append(("TRCK", str(1 + mid % 12)))
    return frames


def _id3_mp3_blob(mid: int) -> bytes:
    """An MP3 whose ID3v2 tag carries real text frames (frame walk
    then proceeds over valid layer-III framing)."""
    tag = build_id3v2(
        _id3_params(mid),
        encoding=3 if mid % 3 else 0,
        # mix v2.3 and v2.4 (syncsafe frame sizes) -- parsed frames
        # are identical, so the oracle is version-independent
        version=4 if mid % 5 == 0 else 3,
    )
    body = _mp3_blob(mid)
    id3 = _id3v2_size(body)
    return tag + body[id3:]


def synthesize_id3_mp3(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _id3_mp3_blob)


ID3_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_id", StringType()),
        StructField("text", StringType()),
    ]
)


def id3_text_frames(media: DataFrame) -> DataFrame:
    """One row per ID3v2 text frame -- and the tag must coexist with
    a valid MPEG frame walk (both parsed from the same blob)."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in ID3_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                parse_mpeg_audio_frames(blob)  # framing must hold
                for fr in parse_id3v2_frames(blob):
                    rows["media_id"].append(int(mid))
                    rows["frame_id"].append(fr["frame_id"])
                    rows["text"].append(fr["text"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, ID3_SCHEMA
    )


# --------------------------------------------------------------------
# MPEG-1 Layer III side information (ISO 11172-3 2.4.1.7)
# --------------------------------------------------------------------
#
# The 17-byte (mono) side-info block at the head of every Layer III
# frame body: main_data_begin (the bit-reservoir back pointer), scfsi,
# and per-granule Huffman parameters (part2_3_length, big_values,
# global_gain, scalefac_compress, window switching / block type /
# table selects / regions).  Parsing it is pure public bitstream
# structure -- the stream-analytics layer (reservoir usage, gain
# envelope, block-switching rate) that needs no Huffman tables.  The
# spectral decode behind it still needs an external codec (module
# header); this closes the syntax layer.


def encode_mp3_sideinfo_mono(
    main_data_begin: int, scfsi: int, granules: list[dict]
) -> bytes:
    """17-byte mono side info from two granule parameter dicts."""
    bw = _BitWriterMSB()
    bw.write(main_data_begin, 9)
    bw.write(0, 5)  # private_bits (mono)
    bw.write(scfsi, 4)
    for g in granules:
        bw.write(g["part2_3_length"], 12)
        bw.write(g["big_values"], 9)
        bw.write(g["global_gain"], 8)
        bw.write(g["scalefac_compress"], 4)
        bw.write(g["window_switching"], 1)
        if g["window_switching"]:
            bw.write(g["block_type"], 2)
            bw.write(g["mixed_block"], 1)
            for t in g["table_select"][:2]:
                bw.write(t, 5)
            for s in g["subblock_gain"]:
                bw.write(s, 3)
        else:
            for t in g["table_select"]:
                bw.write(t, 5)
            bw.write(g["region0_count"], 4)
            bw.write(g["region1_count"], 3)
        bw.write(g["preflag"], 1)
        bw.write(g["scalefac_scale"], 1)
        bw.write(g["count1table_select"], 1)
    out = bw.tobytes(17)
    assert len(out) == 17
    return out


@guard("mp3-sideinfo")
def parse_mp3_sideinfo_mono(body: bytes) -> dict:
    """Mono side info out of a frame BODY (first 17 bytes); raises
    on the spec's forbidden combinations (block_type 0 while window
    switching, big_values > 288)."""
    br = _BitReaderMSB(body)
    out = {"main_data_begin": br.read(9)}
    br.read(5)  # private_bits
    out["scfsi"] = br.read(4)
    grans = []
    for _ in range(2):
        g = {
            "part2_3_length": br.read(12),
            "big_values": br.read(9),
            "global_gain": br.read(8),
            "scalefac_compress": br.read(4),
            "window_switching": br.read(1),
        }
        if g["big_values"] > 288:
            raise ValueError(f"big_values {g['big_values']} > 288")
        if g["window_switching"]:
            g["block_type"] = br.read(2)
            if g["block_type"] == 0:
                raise ValueError(
                    "block_type 0 is forbidden when window switching"
                )
            g["mixed_block"] = br.read(1)
            g["table_select"] = [br.read(5), br.read(5)]
            g["subblock_gain"] = [br.read(3), br.read(3), br.read(3)]
            g["region0_count"] = 0
            g["region1_count"] = 0
        else:
            g["block_type"] = 0
            g["mixed_block"] = 0
            g["table_select"] = [br.read(5), br.read(5), br.read(5)]
            g["subblock_gain"] = [0, 0, 0]
            g["region0_count"] = br.read(4)
            g["region1_count"] = br.read(3)
        g["preflag"] = br.read(1)
        g["scalefac_scale"] = br.read(1)
        g["count1table_select"] = br.read(1)
        grans.append(g)
    out["granules"] = grans
    return out


def _mp3si_granule(mid: int, f: int, g: int) -> dict:
    ws = (mid + f + g) % 2
    return {
        "part2_3_length": 100 + (mid * 7 + f * 5 + g * 3) % 3000,
        "big_values": (mid * 11 + f + g) % 289,
        "global_gain": (mid + f * 2 + g) % 256,
        "scalefac_compress": (mid + g) % 16,
        "window_switching": ws,
        "block_type": 1 + (mid + g) % 3 if ws else 0,
        "mixed_block": mid % 2 if ws else 0,
        "table_select": (
            [(mid + g) % 32, (mid + f) % 32]
            if ws
            else [(mid + g) % 32, (mid + f) % 32, (mid + f + g) % 32]
        ),
        "subblock_gain": [mid % 8, f % 8, g % 8] if ws else [0, 0, 0],
        "region0_count": 0 if ws else (mid + g) % 16,
        "region1_count": 0 if ws else (mid + f) % 8,
        "preflag": (mid + g) % 2,
        "scalefac_scale": (mid + f) % 2,
        "count1table_select": g % 2,
    }


def _mp3si_blob(mid: int) -> bytes:
    """Valid MPEG-1 layer-III frames whose bodies LEAD with real side
    info (rest filler): 2 + mid%3 frames at a fixed bitrate."""
    sr = _SAMPLE_RATE_V1[mid % 3]
    out = bytearray()
    for f in range(2 + mid % 3):
        br_idx = 9  # 128 kbps
        kbps = _BITRATE_V1[3][br_idx]
        length = 144 * kbps * 1000 // sr
        si = encode_mp3_sideinfo_mono(
            (mid * 17 + f * 3) % 512,
            mid % 16,
            [_mp3si_granule(mid, f, 0), _mp3si_granule(mid, f, 1)],
        )
        hdr = bytes([0xFF, 0xFB, (br_idx << 4) | ((mid % 3) << 2), 0xC4])
        body = si + bytes(
            (mid * 3 + f * 7 + j) % 251 for j in range(length - 4 - 17)
        )
        out += hdr + body
    return bytes(out)


def synthesize_mp3_sideinfo(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _mp3si_blob)


MP3_SIDEINFO = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("granule", IntegerType()),
        StructField("main_data_begin", IntegerType()),
        StructField("part2_3_length", IntegerType()),
        StructField("big_values", IntegerType()),
        StructField("global_gain", IntegerType()),
        StructField("scalefac_compress", IntegerType()),
        StructField("window_switching", IntegerType()),
        StructField("block_type", IntegerType()),
        StructField("preflag", IntegerType()),
    ]
)


def mp3_sideinfo(media: DataFrame) -> DataFrame:
    """One row per (frame, granule): the Layer III Huffman-parameter
    census over the real frame walk."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MP3_SIDEINFO.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                _, frames = parse_mpeg_audio_frames(blob)
                for fi, fr in enumerate(frames):
                    if fr["layer"] != 3:
                        raise ValueError("expected layer III")
                    body = blob[
                        fr["offset"] + 4 : fr["offset"] + fr["length"]
                    ]
                    si = parse_mp3_sideinfo_mono(body)
                    for gi, g in enumerate(si["granules"]):
                        rows["media_id"].append(int(mid))
                        rows["frame_idx"].append(fi)
                        rows["granule"].append(gi)
                        rows["main_data_begin"].append(
                            si["main_data_begin"]
                        )
                        rows["part2_3_length"].append(
                            g["part2_3_length"]
                        )
                        rows["big_values"].append(g["big_values"])
                        rows["global_gain"].append(g["global_gain"])
                        rows["scalefac_compress"].append(
                            g["scalefac_compress"]
                        )
                        rows["window_switching"].append(
                            g["window_switching"]
                        )
                        rows["block_type"].append(g["block_type"])
                        rows["preflag"].append(g["preflag"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, MP3_SIDEINFO
    )
