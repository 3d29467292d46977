"""AAC/ADTS framing and H.264 Annex-B NAL parsing (bitstream level).

Extends the media-container tier (`operators/container.py` -- no
reference analog; the reference ships raw archive payloads) down into
the two compressed formats a web corpus actually carries for
audio/video: AAC inside ADTS transport, and H.264 inside Annex-B
elementary streams.  Everything here is TRANSPORT/SYNTAX-layer and
fully public:

- **ADTS** (ISO 14496-3, section 1.A.2.2): the 7/9-byte frame header
  -- 12-bit syncword, MPEG-4 profile (2 bits = audioObjectType-1),
  sampling-frequency index against the published 13-entry table,
  channel configuration, 13-bit aac_frame_length,
  number_of_raw_data_blocks (each block = 1024 PCM samples/channel).
  The frame walk yields exact stream duration and bitrate envelope
  without touching a single spectral coefficient.
- **H.264** (ITU-T H.264 / ISO 14496-10): Annex-B start-code walk
  (00 00 01 / 00 00 00 01), nal_ref_idc / nal_unit_type split,
  EBSP->RBSP unescape (emulation_prevention_three_byte removal,
  section 7.4.1.1), an exact Exp-Golomb reader (section 9.1), and a
  REAL SPS decode (section 7.3.2.1.1): profile/level, chroma format
  (high-profile branch with scaling-list skip), frame_num/POC
  parameters, and the published picture-size arithmetic
      width  = (pic_width_in_mbs_minus1+1)*16  - CropUnitX*(left+right)
      height = (2-frame_mbs_only_flag)
               * (pic_height_in_map_units_minus1+1)*16
               - CropUnitY*(top+bottom)
  -- i.e. the actual pixel resolution of every video on the crawl,
  extracted with zero codec dependencies.

What still needs an external codec: AAC spectral decode and H.264
slice/macroblock decode (documented NotImplementedError surface in
`operators/multimodal.py`).  The layer here is what a 100 TB corpus
scan runs: filter/route/profile media by real properties.

At 100 TB: both walks run in Arrow-batched mapInPandas kernels over
the synthesized (or ingested) blob column; fixed-width stat rows are
all that ever shuffles.
"""

from __future__ import annotations

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
# ADTS (ISO 14496-3 1.A.2.2)
# --------------------------------------------------------------------

# published sampling_frequency_index table (indices 13-14 reserved)
ADTS_SAMPLE_RATES = [
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
]


def build_adts_frame(
    payload: bytes,
    profile: int = 1,  # 2 bits: audioObjectType - 1 (1 = AAC LC)
    sr_index: int = 4,
    channels: int = 2,
    raw_blocks: int = 1,
) -> bytes:
    """One ADTS frame (protection_absent=1, so 7-byte header)."""
    if not 0 <= sr_index < len(ADTS_SAMPLE_RATES):
        raise ValueError(f"reserved sampling_frequency_index {sr_index}")
    length = 7 + len(payload)
    if length >= 1 << 13:
        raise ValueError("aac_frame_length overflows 13 bits")
    h = bytearray(7)
    h[0] = 0xFF
    h[1] = 0xF1  # sync low nibble: ID=0 (MPEG-4), layer=00, no CRC
    h[2] = (profile << 6) | (sr_index << 2) | ((channels >> 2) & 1)
    h[3] = ((channels & 3) << 6) | ((length >> 11) & 0x3)
    h[4] = (length >> 3) & 0xFF
    h[5] = ((length & 7) << 5) | 0x1F  # buffer fullness high (VBR)
    h[6] = (0x3F << 2) | (raw_blocks - 1)  # fullness low + blocks-1
    return bytes(h) + payload


@guard("adts")
def parse_adts_frames(blob: bytes) -> list[dict]:
    """Walk ADTS frames: returns per-frame dicts with offset, length,
    profile, sample_rate, channels, raw_blocks (1024 samples per
    block per channel).  Raises on lost sync, reserved indices, or a
    truncated tail -- the crawl-scale corrupt-input contract."""
    frames: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        if pos + 7 > n:
            raise ValueError(f"truncated ADTS header at offset {pos}")
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xF6) != 0xF0:
            raise ValueError(f"lost ADTS sync at offset {pos}")
        protection_absent = blob[pos + 1] & 1
        profile = (blob[pos + 2] >> 6) & 0x3
        sr_index = (blob[pos + 2] >> 2) & 0xF
        if sr_index >= len(ADTS_SAMPLE_RATES):
            raise ValueError(
                f"reserved sampling_frequency_index {sr_index} at {pos}"
            )
        channels = ((blob[pos + 2] & 1) << 2) | ((blob[pos + 3] >> 6) & 3)
        length = (
            ((blob[pos + 3] & 0x3) << 11)
            | (blob[pos + 4] << 3)
            | ((blob[pos + 5] >> 5) & 0x7)
        )
        header_len = 7 if protection_absent else 9
        if length < header_len:
            raise ValueError(f"frame length {length} < header at {pos}")
        if pos + length > n:
            raise ValueError(f"truncated ADTS frame at offset {pos}")
        raw_blocks = (blob[pos + 6] & 0x3) + 1
        frames.append(
            {
                "offset": pos,
                "length": length,
                "profile": profile,
                "sample_rate": ADTS_SAMPLE_RATES[sr_index],
                "channels": channels,
                "raw_blocks": raw_blocks,
            }
        )
        pos += length
    return frames


def _adts_params(mid: int) -> list[tuple[int, int, int, int]]:
    """(payload_len, profile, sr_index, channels) per frame
    (oracle-mirrored): 3 + mid%4 frames, payloads 50 + (mid+f)%37."""
    return [
        (50 + (mid + f) % 37, (mid + f) % 4, (mid + f) % 13, 1 + mid % 2)
        for f in range(3 + mid % 4)
    ]


def _adts_blob(mid: int) -> bytes:
    out = bytearray()
    for plen, prof, sri, ch in _adts_params(mid):
        payload = bytes((mid * 5 + j) % 251 for j in range(plen))
        out += build_adts_frame(payload, prof, sri, ch)
    return bytes(out)


def synthesize_adts(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _adts_blob)


ADTS_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("total_bytes", LongType()),
        StructField("total_samples", LongType()),
        StructField("sr_min", IntegerType()),
        StructField("sr_max", IntegerType()),
        StructField("profile_mask", IntegerType()),
        StructField("max_channels", IntegerType()),
    ]
)


def adts_frame_stats(media: DataFrame) -> DataFrame:
    """Per-file ADTS profile: frame count, byte extent, exact sample
    total (1024 * raw_blocks per frame per channel basis), sample-rate
    envelope, bitmask of profiles seen, channel max."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in ADTS_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                frames = parse_adts_frames(bytes(blob))
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["total_bytes"].append(
                    sum(f["length"] for f in frames)
                )
                rows["total_samples"].append(
                    sum(1024 * f["raw_blocks"] for f in frames)
                )
                rows["sr_min"].append(
                    min((f["sample_rate"] for f in frames), default=0)
                )
                rows["sr_max"].append(
                    max((f["sample_rate"] for f in frames), default=0)
                )
                mask = 0
                for f in frames:
                    mask |= 1 << f["profile"]
                rows["profile_mask"].append(mask)
                rows["max_channels"].append(
                    max((f["channels"] for f in frames), default=0)
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, ADTS_STATS
    )


# --------------------------------------------------------------------
# AAC raw_data_block element census (ISO 14496-3 4.4.1) -- round 8
# --------------------------------------------------------------------
#
# One syntactic layer below ADTS: the raw_data_block is a sequence of
# elements tagged by a 3-bit id_syn_ele.  The elements with explicit
# structure -- PCE (program config, Table 4.2), DSE (data stream,
# Table 4.10), FIL (fill, Table 4.11), END -- parse completely with
# no codec state; the audio elements (SCE/CPE/CCE/LFE) need spectral
# decode to skip, so the walk records the FIRST audio element's type
# and stops there, which is exactly what a routing profiler wants
# from an AAC file (channel layout + metadata inventory, not
# samples).  Full AAC sample decode is out of scope by construction:
# the scalefactor/spectral layer needs the ISO huffman codebooks,
# which are not reproducible from first principles.
#
# The AudioSpecificConfig (ISO 14496-3 1.6.2.1) is derived from the
# ADTS header fields -- audioObjectType = profile + 1, plus the
# GASpecificConfig flags -- giving the MP4-interchange config bytes a
# transcoding pipeline records.

_AAC_SCE, _AAC_CPE, _AAC_CCE, _AAC_LFE = 0, 1, 2, 3
_AAC_DSE, _AAC_PCE, _AAC_FIL, _AAC_END = 4, 5, 6, 7


def build_audio_specific_config(
    object_type: int, sr_index: int, channels: int
) -> bytes:
    """2-byte AudioSpecificConfig (audioObjectType < 31, GA config
    with 1024 frame length)."""
    w = _BitWriter()
    w.u(object_type, 5)
    w.u(sr_index, 4)
    w.u(channels, 4)
    w.u(0, 1)  # frameLengthFlag: 1024
    w.u(0, 1)  # dependsOnCoreCoder
    w.u(0, 1)  # extensionFlag
    while len(w.bits) % 8:
        w.bits.append(0)
    out = bytearray()
    for i in range(0, len(w.bits), 8):
        b = 0
        for bit in w.bits[i : i + 8]:
            b = (b << 1) | bit
        out.append(b)
    return bytes(out)


@guard("audio-specific-config")
def parse_audio_specific_config(blob: bytes) -> dict:
    r = _BitReader(blob)
    aot = r.u(5)
    if aot == 31:
        aot = 32 + r.u(6)
    sri = r.u(4)
    if sri == 15:
        r.u(24)  # explicit samplingFrequency
    ch = r.u(4)
    return {
        "object_type": aot,
        "sr_index": sri,
        "channel_config": ch,
        "frame_length": 960 if r.u(1) else 1024,
        "depends_on_core_coder": r.u(1),
        "extension_flag": r.u(1),
    }


def _aac_align(w: _BitWriter) -> None:
    while len(w.bits) % 8:
        w.bits.append(0)


def parse_pce(r: _BitReader, block_start_bit: int) -> dict:
    """program_config_element; byte_alignment() is relative to the
    start of the raw_data_block (block_start_bit)."""
    out = {"instance_tag": r.u(4), "object_type": r.u(2),
           "sr_index": r.u(4)}
    n_front = r.u(4)
    n_side = r.u(4)
    n_back = r.u(4)
    n_lfe = r.u(2)
    n_assoc = r.u(3)
    n_cc = r.u(4)
    if r.u(1):
        r.u(4)  # mono_mixdown_element_number
    if r.u(1):
        r.u(4)  # stereo_mixdown_element_number
    if r.u(1):
        r.u(3)  # matrix_mixdown_idx + pseudo_surround
    n_channels = 0
    for _ in range(n_front + n_side + n_back):
        is_cpe = r.u(1)
        r.u(4)
        n_channels += 2 if is_cpe else 1
    n_channels += n_lfe
    for _ in range(n_lfe + n_assoc):
        r.u(4)
    for _ in range(n_cc):
        r.u(5)
    # byte_alignment relative to raw_data_block start
    while (r.pos - block_start_bit) % 8:
        r.u(1)
    n_comment = r.u(8)
    comment = bytes(r.u(8) for _ in range(n_comment))
    out.update(
        n_front=n_front, n_side=n_side, n_back=n_back, n_lfe=n_lfe,
        n_channels=n_channels, comment=comment,
    )
    return out


@guard("aac-elements")
def parse_raw_data_block_elements(
    payload: bytes, block_start_bit: int = 0
) -> dict:
    """Element walk: PCE/DSE/FIL parse completely; the first audio
    element (SCE/CPE/CCE/LFE) terminates the walk (its payload needs
    spectral decode to skip).  Returns the census a router needs."""
    r = _BitReader(payload)
    out = {
        "n_pce": 0, "n_dse": 0, "n_fil": 0,
        "dse_bytes": 0, "fil_bytes": 0,
        "pce_channels": 0, "first_audio": -1, "ended": 0,
    }
    while True:
        if (len(payload) * 8 - r.pos) < 3:
            break
        ele = r.u(3)
        if ele == _AAC_END:
            out["ended"] = 1
            break
        if ele in (_AAC_SCE, _AAC_CPE, _AAC_CCE, _AAC_LFE):
            out["first_audio"] = ele
            break
        if ele == _AAC_PCE:
            pce = parse_pce(r, block_start_bit)
            out["n_pce"] += 1
            out["pce_channels"] = pce["n_channels"]
        elif ele == _AAC_DSE:
            r.u(4)  # element_instance_tag
            align = r.u(1)
            cnt = r.u(8)
            if cnt == 255:
                cnt += r.u(8)
            if align:
                while (r.pos - block_start_bit) % 8:
                    r.u(1)
            for _ in range(cnt):
                r.u(8)
            out["n_dse"] += 1
            out["dse_bytes"] += cnt
        elif ele == _AAC_FIL:
            cnt = r.u(4)
            if cnt == 15:
                cnt += r.u(8) - 1
            for _ in range(cnt):
                r.u(8)
            out["n_fil"] += 1
            out["fil_bytes"] += cnt
        else:  # pragma: no cover -- all 8 ids handled above
            raise ValueError(f"unhandled id_syn_ele {ele}")
    return out


def _aac_elements_params(mid: int) -> tuple[int, int, int, int, int, int]:
    """(n_frames, profile, sr_index, n_dse, n_fil, first_audio_is_cpe),
    oracle-mirrored."""
    return (
        2 + mid % 3,
        mid % 4,
        mid % 13,
        mid % 3,
        (mid + 1) % 2,
        mid % 2,
    )


def _aac_elements_blob(mid: int) -> bytes:
    n_frames, prof, sri, n_dse, n_fil, cpe = _aac_elements_params(mid)
    channels = 2 if cpe else 1
    out = bytearray()
    for f in range(n_frames):
        w = _BitWriter()
        if f == 0:  # PCE leads the first frame
            w.u(_AAC_PCE, 3)
            w.u(0, 4)
            w.u(prof & 3, 2)
            w.u(sri, 4)
            w.u(1, 4)  # one front element
            w.u(0, 4)
            w.u(0, 4)
            w.u(0, 2)
            w.u(0, 3)
            w.u(0, 4)
            w.u(0, 3)  # no mixdowns
            w.u(cpe, 1)
            w.u(0, 4)
            _aac_align(w)  # byte_alignment rel. block start
            comment = b"m%d" % (mid % 97)
            w.u(len(comment), 8)
            for b in comment:
                w.u(b, 8)
        for d in range(n_dse):
            w.u(_AAC_DSE, 3)
            w.u(d, 4)
            w.u(0, 1)  # no alignment
            cnt = 3 + (mid + d) % 5
            w.u(cnt, 8)
            for j in range(cnt):
                w.u((mid + d + j) % 251, 8)
        for x in range(n_fil):
            w.u(_AAC_FIL, 3)
            cnt = 1 + (mid + x) % 7
            w.u(cnt, 4)
            for j in range(cnt):
                w.u((mid + x + j) % 240, 8)
        # terminal audio element with an opaque spectral payload
        w.u(_AAC_CPE if cpe else _AAC_SCE, 3)
        w.u(0, 4)  # element_instance_tag (start of audio payload)
        for j in range(18 + (mid + f) % 9):
            w.u((mid * 3 + f + j) % 256, 8)
        _aac_align(w)
        payload = bytearray()
        for i in range(0, len(w.bits), 8):
            b = 0
            for bit in w.bits[i : i + 8]:
                b = (b << 1) | bit
            payload.append(b)
        out += build_adts_frame(bytes(payload), prof, sri, channels)
    return bytes(out)


def synthesize_aac_elements(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _aac_elements_blob)


AAC_ELEMENT_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("object_type", IntegerType()),
        StructField("frame_length", IntegerType()),
        StructField("pce_channels", IntegerType()),
        StructField("n_dse", IntegerType()),
        StructField("n_fil", IntegerType()),
        StructField("dse_bytes", LongType()),
        StructField("fil_bytes", LongType()),
        StructField("first_audio", IntegerType()),
    ]
)


def aac_element_stats(media: DataFrame) -> DataFrame:
    """Per-file AAC inventory one layer below ADTS framing: derived
    AudioSpecificConfig (object type, frame length), PCE channel
    map, DSE/FIL metadata census, and the first audio element id --
    summed over frames."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AAC_ELEMENT_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                frames = parse_adts_frames(blob)
                tot = {
                    "n_dse": 0, "n_fil": 0, "dse_bytes": 0,
                    "fil_bytes": 0,
                }
                pce_ch = 0
                first_audio = -1
                asc = None
                for fr in frames:
                    hdr = 7  # protection_absent=1 in our corpus
                    payload = blob[
                        fr["offset"] + hdr : fr["offset"] + fr["length"]
                    ]
                    if asc is None:
                        asc = parse_audio_specific_config(
                            build_audio_specific_config(
                                fr["profile"] + 1,
                                ADTS_SAMPLE_RATES.index(
                                    fr["sample_rate"]
                                ),
                                fr["channels"],
                            )
                        )
                    census = parse_raw_data_block_elements(payload)
                    for k in tot:
                        tot[k] += census[k]
                    if census["pce_channels"]:
                        pce_ch = census["pce_channels"]
                    if first_audio < 0:
                        first_audio = census["first_audio"]
                rows["media_id"].append(int(mid))
                rows["n_frames"].append(len(frames))
                rows["object_type"].append(
                    asc["object_type"] if asc else 0
                )
                rows["frame_length"].append(
                    asc["frame_length"] if asc else 0
                )
                rows["pce_channels"].append(pce_ch)
                rows["n_dse"].append(tot["n_dse"])
                rows["n_fil"].append(tot["n_fil"])
                rows["dse_bytes"].append(tot["dse_bytes"])
                rows["fil_bytes"].append(tot["fil_bytes"])
                rows["first_audio"].append(first_audio)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, AAC_ELEMENT_STATS
    )


# --------------------------------------------------------------------
# H.264 Annex B (ITU-T H.264 7.3/7.4, 9.1, Annex B)
# --------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader with Exp-Golomb (spec 9.1)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("Exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def ue(self, value: int) -> None:
        code = value + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def rbsp_trailing(self) -> bytes:
        self.u(1, 1)  # rbsp_stop_one_bit
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def rbsp_escape(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte: any 00 00 0x (x<=3)
    in the RBSP becomes 00 00 03 0x on the wire (spec 7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def rbsp_unescape(ebsp: bytes) -> bytes:
    """Remove emulation_prevention_three_byte (00 00 03 -> 00 00)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(ebsp)
    while i < n:
        b = ebsp[i]
        if zeros >= 2 and b == 3 and i + 1 < n and ebsp[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# profiles that carry the chroma_format/scaling-list block in the SPS
_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
                  134, 135}


@guard("h264-sps")
def parse_sps(rbsp: bytes) -> dict:
    """Sequence parameter set (spec 7.3.2.1.1) through the picture
    size; scaling lists are skipped structurally (7.3.2.1.1.1)."""
    r = _BitReader(rbsp)
    profile_idc = r.u(8)
    constraint_flags = r.u(8)
    level_idc = r.u(8)
    sps_id = r.ue()
    chroma_format_idc = 1  # 4:2:0 default (baseline/main)
    separate_colour_plane = 0
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour_plane = r.u(1)
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            count = 8 if chroma_format_idc != 3 else 12
            for i in range(count):
                if r.u(1):  # seq_scaling_list_present_flag[i]
                    size = 16 if i < 6 else 64
                    last, nxt = 8, 8
                    for _ in range(size):
                        if nxt != 0:
                            nxt = (last + r.se() + 256) % 256
                        last = nxt if nxt != 0 else last
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    max_num_ref_frames = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    pic_width_in_mbs = r.ue() + 1
    pic_height_in_map_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop = (0, 0, 0, 0)
    if r.u(1):  # frame_cropping_flag
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    # picture size arithmetic (spec 7.4.2.1.1 semantics)
    if separate_colour_plane or chroma_format_idc == 0:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    elif chroma_format_idc == 1:
        unit_x, unit_y = 2, 2 * (2 - frame_mbs_only)
    elif chroma_format_idc == 2:
        unit_x, unit_y = 2, 2 - frame_mbs_only
    else:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    width = pic_width_in_mbs * 16 - unit_x * (crop[0] + crop[1])
    height = (
        (2 - frame_mbs_only) * pic_height_in_map_units * 16
        - unit_y * (crop[2] + crop[3])
    )
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "max_num_ref_frames": max_num_ref_frames,
        "frame_mbs_only": frame_mbs_only,
        "width": width,
        "height": height,
    }


def build_sps(
    width_mbs: int,
    height_map_units: int,
    crop_right: int = 0,
    crop_bottom: int = 0,
    profile_idc: int = 66,
    level_idc: int = 30,
) -> bytes:
    """Baseline-profile SPS RBSP with the given size (4:2:0, frame
    coding, optional right/bottom cropping in chroma units)."""
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint flags + reserved
    w.u(level_idc, 8)
    w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(width_mbs - 1)
    w.ue(height_map_units - 1)
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    if crop_right or crop_bottom:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right)
        w.ue(0)
        w.ue(crop_bottom)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    return w.rbsp_trailing()


def annexb_nal(nal_type: int, rbsp: bytes, ref_idc: int = 3) -> bytes:
    """One Annex-B NAL unit: 4-byte start code + header + escaped
    RBSP."""
    return (
        b"\x00\x00\x00\x01"
        + bytes([(ref_idc << 5) | nal_type])
        + rbsp_escape(rbsp)
    )


@guard("h264-annexb")
def parse_annexb(blob: bytes) -> list[dict]:
    """Annex-B start-code walk: (offset, nal_type, ref_idc,
    ebsp_length) per NAL unit.  Accepts both 3- and 4-byte start
    codes; raises if the stream does not begin with one."""
    n = len(blob)
    starts: list[int] = []  # offsets of the byte AFTER each start code
    i = 0
    while i + 2 < n:
        if blob[i] == 0 and blob[i + 1] == 0 and blob[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise ValueError("no Annex-B start code")
    first = starts[0] - 3
    if first != 0 and not (first == 1 and blob[0] == 0):
        raise ValueError("stream does not begin with a start code")
    nals = []
    for idx, s in enumerate(starts):
        if idx + 1 < len(starts):
            end = starts[idx + 1] - 3
            # zeros immediately before a following start code are
            # leading_zero_8bits of THAT code, not payload; at
            # end-of-stream there is no such code, so trailing zero
            # bytes (e.g. cabac_zero_words) stay in the last NAL
            while end > s and blob[end - 1] == 0:
                end -= 1
        else:
            end = n
        hdr = blob[s]
        if hdr & 0x80:
            raise ValueError(f"forbidden_zero_bit set at offset {s}")
        nals.append(
            {
                "offset": s,
                "nal_type": hdr & 0x1F,
                "ref_idc": (hdr >> 5) & 0x3,
                "ebsp_length": end - s - 1,
            }
        )
    return nals


def _h264_params(mid: int) -> tuple[int, int, int, int, int]:
    """(width_mbs, height_map_units, crop_right, crop_bottom,
    n_slices) -- oracle-mirrored."""
    return (
        4 + mid % 9,
        3 + mid % 7,
        mid % 2,
        (mid // 2) % 2,
        2 + mid % 3,
    )


def _h264_blob(mid: int) -> bytes:
    wmbs, hmu, cr, cb, n_slices = _h264_params(mid)
    out = bytearray()
    out += annexb_nal(7, build_sps(wmbs, hmu, cr, cb))  # SPS
    pps = _BitWriter()
    pps.ue(0)  # pps_id
    pps.ue(0)  # sps_id
    out += annexb_nal(8, pps.rbsp_trailing())  # PPS (prefix only)
    for sl in range(n_slices):
        # dummy slice payloads engineered to exercise the
        # emulation-prevention escape (raw 00 00 01 inside)
        body = bytes([sl, 0, 0, 1, 0, 0, 2]) + bytes(
            (mid * 3 + sl * 7 + j) % 251 for j in range(20 + sl)
        )
        out += annexb_nal(5 if sl == 0 else 1, body, ref_idc=2)
    return bytes(out)


def synthesize_h264(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _h264_blob)


H264_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_nals", IntegerType()),
        StructField("n_slices", IntegerType()),
        StructField("n_idr", IntegerType()),
        StructField("profile_idc", IntegerType()),
        StructField("level_idc", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def h264_stream_stats(media: DataFrame) -> DataFrame:
    """Per-file H.264 profile: NAL census and the REAL resolution
    decoded from the first SPS (Exp-Golomb, cropping arithmetic) --
    the video-routing columns a multimodal corpus filters on."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in H264_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                nals = parse_annexb(blob)
                sps = None
                for nal in nals:
                    if nal["nal_type"] == 7 and sps is None:
                        s = nal["offset"] + 1
                        sps = parse_sps(
                            rbsp_unescape(
                                blob[s : s + nal["ebsp_length"]]
                            )
                        )
                rows["media_id"].append(int(mid))
                rows["n_nals"].append(len(nals))
                rows["n_slices"].append(
                    sum(1 for x in nals if x["nal_type"] in (1, 5))
                )
                rows["n_idr"].append(
                    sum(1 for x in nals if x["nal_type"] == 5)
                )
                rows["profile_idc"].append(
                    sps["profile_idc"] if sps else 0
                )
                rows["level_idc"].append(sps["level_idc"] if sps else 0)
                rows["width"].append(sps["width"] if sps else 0)
                rows["height"].append(sps["height"] if sps else 0)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, H264_STATS
    )


# --------------------------------------------------------------------
# H.264 PPS + slice headers (spec 7.3.2.2 / 7.3.3) -- round 8
# --------------------------------------------------------------------
#
# The profiling features a crawl pipeline actually uses from video:
# picture/GOP counting and IDR segmentation, which need the slice
# header's first_mb_in_slice / slice_type / frame_num -- and those
# need the PPS (entropy mode) and SPS (frame_num field width) for
# context.  Macroblock decode stays out of scope by construction.


@guard("h264-pps")
def parse_pps(rbsp: bytes) -> dict:
    """Picture parameter set through redundant_pic_cnt_present_flag
    (7.3.2.2); FMO slice-group maps are parsed structurally."""
    r = _BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    cabac = r.u(1)  # entropy_coding_mode_flag
    bottom_field_poc = r.u(1)
    num_slice_groups = r.ue() + 1
    if num_slice_groups > 1:  # FMO map (7.3.2.2, map types 0..6)
        map_type = r.ue()
        if map_type == 0:
            for _ in range(num_slice_groups):
                r.ue()  # run_length_minus1
        elif map_type == 2:
            for _ in range(num_slice_groups - 1):
                r.ue()  # top_left
                r.ue()  # bottom_right
        elif map_type in (3, 4, 5):
            r.u(1)  # slice_group_change_direction_flag
            r.ue()  # slice_group_change_rate_minus1
        elif map_type == 6:
            n = r.ue() + 1
            bits = max(1, (num_slice_groups - 1).bit_length())
            for _ in range(n):
                r.u(bits)
    num_ref_l0 = r.ue() + 1
    num_ref_l1 = r.ue() + 1
    weighted_pred = r.u(1)
    weighted_bipred_idc = r.u(2)
    pic_init_qp = r.se() + 26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    deblocking_control = r.u(1)
    r.u(1)  # constrained_intra_pred_flag
    r.u(1)  # redundant_pic_cnt_present_flag
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "cabac": cabac,
        "bottom_field_poc": bottom_field_poc,
        "num_slice_groups": num_slice_groups,
        "num_ref_l0": num_ref_l0,
        "num_ref_l1": num_ref_l1,
        "weighted_pred": weighted_pred,
        "weighted_bipred_idc": weighted_bipred_idc,
        "pic_init_qp": pic_init_qp,
        "deblocking_control": deblocking_control,
    }


def build_pps(
    pps_id: int = 0, sps_id: int = 0, cabac: bool = False,
    pic_init_qp: int = 26,
) -> bytes:
    """Complete single-slice-group PPS RBSP (7.3.2.2)."""
    w = _BitWriter()
    w.ue(pps_id)
    w.ue(sps_id)
    w.u(1 if cabac else 0, 1)
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(pic_init_qp - 26)
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    return w.rbsp_trailing()


@guard("h264-slice")
def parse_slice_header(
    rbsp: bytes, sps: dict, nal_type: int
) -> dict:
    """Slice header prefix (7.3.3) through frame_num / idr_pic_id --
    the fields picture and GOP segmentation need.  The remainder of
    the header (POC, ref-pic reordering, ...) and the slice data are
    not consumed."""
    r = _BitReader(rbsp)
    first_mb = r.ue()
    slice_type = r.ue()
    pps_id = r.ue()
    frame_num = r.u(sps["log2_max_frame_num"])
    idr_pic_id = None
    if nal_type == 5:
        idr_pic_id = r.ue()
    return {
        "first_mb_in_slice": first_mb,
        "slice_type": slice_type,
        "pps_id": pps_id,
        "frame_num": frame_num,
        "idr_pic_id": idr_pic_id,
        "is_idr": nal_type == 5,
    }


def build_slice_header(
    first_mb: int, slice_type: int, frame_num: int,
    log2_max_frame_num: int, idr: bool, idr_pic_id: int = 0,
) -> bytes:
    """The parsed slice-header prefix as RBSP bits; callers append
    opaque payload bytes after it (the parser never reads past the
    prefix, mirroring a profiling -- not decoding -- pass)."""
    w = _BitWriter()
    w.ue(first_mb)
    w.ue(slice_type)
    w.ue(0)  # pps_id
    w.u(frame_num, log2_max_frame_num)
    if idr:
        w.ue(idr_pic_id)
    return w.rbsp_trailing()


def _h264_slices_params(mid: int) -> tuple[int, int, int, int]:
    """(n_frames, slices_per_frame, gop_len, cabac), oracle-mirrored."""
    return 3 + mid % 5, 1 + mid % 3, 2 + mid % 3, mid % 2


def _h264_slices_blob(mid: int) -> bytes:
    n_frames, spf, gop, cabac = _h264_slices_params(mid)
    out = bytearray()
    out += annexb_nal(7, build_sps(8, 6))  # SPS: log2_max_frame_num=4
    out += annexb_nal(8, build_pps(cabac=bool(cabac)))
    for f in range(n_frames):
        idr = f % gop == 0
        frame_num = f % gop  # frame_num resets at each IDR
        for sl in range(spf):
            hdr = build_slice_header(
                first_mb=sl * 11,
                slice_type=7 if idr else 5,  # I-all / P-all
                frame_num=frame_num,
                log2_max_frame_num=4,
                idr=idr,
                idr_pic_id=f // gop,
            )
            payload = bytes(
                (mid * 5 + f * 3 + sl * 7 + j) % 249
                for j in range(12 + sl)
            )
            out += annexb_nal(
                5 if idr else 1, hdr + payload, ref_idc=3 if idr else 2
            )
    return bytes(out)


def synthesize_h264_slices(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _h264_slices_blob)


H264_SLICE_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_nals", IntegerType()),
        StructField("n_pictures", IntegerType()),
        StructField("n_idr_pictures", IntegerType()),
        StructField("n_i_slices", IntegerType()),
        StructField("n_p_slices", IntegerType()),
        StructField("max_frame_num", IntegerType()),
        StructField("cabac", IntegerType()),
    ]
)


def h264_slice_stats(media: DataFrame) -> DataFrame:
    """Per-file picture/GOP census from REAL slice-header parses:
    pictures counted by first_mb_in_slice==0, IDR segmentation, I/P
    slice-type tally, and the PPS entropy mode -- the columns a
    video corpus shards and samples by."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in H264_SLICE_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                nals = parse_annexb(blob)
                sps = pps = None
                n_pic = n_idr = n_i = n_p = 0
                max_fn = 0
                for nal in nals:
                    s = nal["offset"] + 1
                    rbsp = rbsp_unescape(
                        blob[s : s + nal["ebsp_length"]]
                    )
                    if nal["nal_type"] == 7:
                        sps = parse_sps(rbsp)
                    elif nal["nal_type"] == 8:
                        pps = parse_pps(rbsp)
                    elif nal["nal_type"] in (1, 5) and sps is not None:
                        h = parse_slice_header(
                            rbsp, sps, nal["nal_type"]
                        )
                        if h["first_mb_in_slice"] == 0:
                            n_pic += 1
                            if h["is_idr"]:
                                n_idr += 1
                        if h["slice_type"] % 5 == 2:
                            n_i += 1
                        elif h["slice_type"] % 5 == 0:
                            n_p += 1
                        max_fn = max(max_fn, h["frame_num"])
                rows["media_id"].append(int(mid))
                rows["n_nals"].append(len(nals))
                rows["n_pictures"].append(n_pic)
                rows["n_idr_pictures"].append(n_idr)
                rows["n_i_slices"].append(n_i)
                rows["n_p_slices"].append(n_p)
                rows["max_frame_num"].append(max_fn)
                rows["cabac"].append(pps["cabac"] if pps else -1)
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, H264_SLICE_STATS
    )


# --------------------------------------------------------------------
# AV1 OBU syntax (AOM AV1 spec, sections 4.10 / 5.3 / 5.5)
# --------------------------------------------------------------------
#
# The open-bitstream-unit walk for the web's newest video codec:
# leb128 size fields (4.10.5), the obu_header bit layout (5.3.2),
# and the sequence-header parse (5.5.1) through max frame size --
# seq_profile / seq_level_idx and the variable-width
# max_frame_{width,height}_minus_1 fields that carry the REAL pixel
# dimensions.  Same posture as the H.264 tier above: syntax layer
# complete, tile/symbol decode external.

OBU_SEQUENCE_HEADER = 1
OBU_TEMPORAL_DELIMITER = 2
OBU_FRAME_HEADER = 3
OBU_TILE_GROUP = 4
OBU_METADATA = 5
OBU_FRAME = 6
OBU_PADDING = 15


def leb128_encode(value: int) -> bytes:
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def leb128_decode(blob: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos); spec caps leb128 at 8 bytes."""
    v = 0
    for i in range(8):
        if pos + i >= len(blob):
            raise ValueError(f"truncated leb128 at {pos}")
        b = blob[pos + i]
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return v, pos + i + 1
    raise ValueError(f"leb128 longer than 8 bytes at {pos}")


def build_av1_sequence_header(
    width: int, height: int, profile: int = 0, level: int = 8
) -> bytes:
    """Sequence-header OBU payload (reduced_still_picture_header=0,
    single operating point, no timing info), carrying the exact
    max frame dimensions."""
    w = _BitWriter()
    w.u(profile, 3)
    w.u(0, 1)  # still_picture
    w.u(0, 1)  # reduced_still_picture_header
    w.u(0, 1)  # timing_info_present_flag
    w.u(0, 1)  # initial_display_delay_present_flag
    w.u(0, 5)  # operating_points_cnt_minus_1
    w.u(0, 12)  # operating_point_idc[0]
    w.u(level, 5)  # seq_level_idx[0]
    if level > 7:
        w.u(0, 1)  # seq_tier[0]
    wbits = max(1, (width - 1).bit_length())
    hbits = max(1, (height - 1).bit_length())
    w.u(wbits - 1, 4)
    w.u(hbits - 1, 4)
    w.u(width - 1, wbits)
    w.u(height - 1, hbits)
    # stop bits: the remaining sequence-header fields are not needed
    # for the size parse; pad the byte out (trailing bits are read
    # only by the fields we do not parse)
    while len(w.bits) % 8:
        w.u(0, 1)
    out = bytearray()
    for i in range(0, len(w.bits), 8):
        b = 0
        for bit in w.bits[i : i + 8]:
            b = (b << 1) | bit
        out.append(b)
    return bytes(out)


@guard("av1-seq")
def parse_av1_sequence_header(payload: bytes) -> dict:
    """seq_profile / seq_level_idx / max frame size out of a
    sequence-header OBU payload (reduced_still_picture_header=0
    single-operating-point form, the shape every encoder emits for
    web video)."""
    r = _BitReader(payload)
    profile = r.u(3)
    still = r.u(1)
    reduced = r.u(1)
    if reduced:
        level = r.u(5)
    else:
        if r.u(1):  # timing_info_present
            raise ValueError("timing_info parse not supported")
        r.u(1)  # initial_display_delay_present
        cnt = r.u(5)
        if cnt != 0:
            raise ValueError("multi-operating-point parse not supported")
        r.u(12)  # operating_point_idc[0]
        level = r.u(5)
        if level > 7:
            r.u(1)  # seq_tier
    wbits = r.u(4) + 1
    hbits = r.u(4) + 1
    width = r.u(wbits) + 1
    height = r.u(hbits) + 1
    return {
        "profile": profile,
        "still_picture": still,
        "level": level,
        "width": width,
        "height": height,
    }


def build_av1_obu(obu_type: int, payload: bytes) -> bytes:
    hdr = bytes([(obu_type << 3) | 0x2])  # has_size_field=1
    return hdr + leb128_encode(len(payload)) + payload


@guard("av1-obu")
def parse_av1_obus(blob: bytes) -> list[dict]:
    """OBU walk: (offset, obu_type, size) per unit; raises on the
    forbidden bit, a missing size field, or truncation."""
    pos = 0
    out = []
    while pos < len(blob):
        hdr = blob[pos]
        if hdr & 0x80:
            raise ValueError(f"obu_forbidden_bit set at {pos}")
        obu_type = (hdr >> 3) & 0xF
        ext = (hdr >> 2) & 1
        has_size = (hdr >> 1) & 1
        p = pos + 1 + ext
        if not has_size:
            raise ValueError(f"size-field-less OBU at {pos}")
        size, p = leb128_decode(blob, p)
        if p + size > len(blob):
            raise ValueError(f"truncated OBU at {pos}")
        out.append(
            {
                "offset": pos,
                "obu_type": obu_type,
                "size": size,
                "payload_start": p,
            }
        )
        pos = p + size
    return out


def _av1_params(mid: int) -> tuple[int, int, int, int, int]:
    """(profile, level, width, height, n_frames), oracle-mirrored."""
    return (
        mid % 3,
        [5, 8, 9, 12][mid % 4],
        320 + 4 * (mid % 400),
        180 + 2 * (mid % 450),
        1 + mid % 4,
    )


def _av1_blob(mid: int) -> bytes:
    prof, level, w, h, n_frames = _av1_params(mid)
    out = bytearray()
    out += build_av1_obu(OBU_TEMPORAL_DELIMITER, b"")
    out += build_av1_obu(
        OBU_SEQUENCE_HEADER, build_av1_sequence_header(w, h, prof, level)
    )
    for f in range(n_frames):
        body = bytes((mid * 7 + f * 3 + j) % 251 for j in range(40 + 11 * f))
        out += build_av1_obu(OBU_FRAME, body)
    return bytes(out)


def synthesize_av1(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _av1_blob)


AV1_STATS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_obus", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("profile", IntegerType()),
        StructField("level", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame_bytes", LongType()),
    ]
)


def av1_stream_stats(media: DataFrame) -> DataFrame:
    """Per-file AV1 profile: OBU census plus the sequence-header
    resolution decode."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AV1_STATS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                obus = parse_av1_obus(blob)
                seq = None
                for o in obus:
                    if o["obu_type"] == OBU_SEQUENCE_HEADER and seq is None:
                        seq = parse_av1_sequence_header(
                            blob[
                                o["payload_start"] : o["payload_start"]
                                + o["size"]
                            ]
                        )
                rows["media_id"].append(int(mid))
                rows["n_obus"].append(len(obus))
                rows["n_frames"].append(
                    sum(
                        1
                        for o in obus
                        if o["obu_type"] in (OBU_FRAME, OBU_FRAME_HEADER)
                    )
                )
                rows["profile"].append(seq["profile"] if seq else -1)
                rows["level"].append(seq["level"] if seq else -1)
                rows["width"].append(seq["width"] if seq else 0)
                rows["height"].append(seq["height"] if seq else 0)
                rows["frame_bytes"].append(
                    sum(o["size"] for o in obus
                        if o["obu_type"] == OBU_FRAME)
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, AV1_STATS
    )
