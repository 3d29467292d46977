"""Pack-file sources: POSIX tar (ustar) and ZIP archives.

Training-data tier. Multimodal corpora ship as tar shards (the
WebDataset convention: one tar per shard, members grouped by sample
key) and as zip archives; a 100 TB ingest job must walk those
containers where they land, exactly like the reference's ARC reader
walks gzip members (sources/archive.py). Both parsers here are real:

* tar: 512-byte ustar headers -- octal size fields, header checksum
  VALIDATED (sum of header bytes with the chksum field blanked to
  spaces), typeflag, name+prefix reassembly, content padded to block
  size, end-of-archive = two zero blocks.
* zip: end-of-central-directory located by signature scan from the
  tail, central-directory walk (names, method, sizes, local-header
  offsets), member extraction through the local header, STORED and
  DEFLATE (zlib stdlib -- a real inflate) methods, CRC32 VALIDATED
  against the directory entry.

Spark shape: archives are opaque binary blobs; member walks run in
Arrow-batched mapInPandas (one task per archive -- archives are
size-capped by the writer that rotated them), and only member
METADATA rows (name, size, digest) shuffle, never payload bytes,
unless the caller explicitly selects member content out.

Fixture blobs (tar, zip, HLS, subtitles, and the DNS messages of
functions/dnswire.py) come from one synthesizer, `_synthesize_media`:
one deterministic blob per documents row.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.parseguard import guard

# --------------------------------------------------------------------
# fixture synthesizer: one binary blob per document id
# --------------------------------------------------------------------

_MEDIA_BLOB_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
    ]
)

# rows one Python codec task is sized for
_ROWS_PER_TASK = 256

# row counts by (applicationId, input file set): parquet footers are a
# driver-side metadata read, so sizing the fan-out costs no Spark job
_ROWS_CACHE: dict = {}


def python_stage_parallelism(df: DataFrame) -> int:
    """Partition count for a per-row Python codec stage over `df`:
    derived from the input's row count instead of a constant (guide
    2.5 -- partitioning that adapts to input size). Capped at
    defaultParallelism, so at cluster scale (rows >> cap *
    _ROWS_PER_TASK) this IS defaultParallelism and behavior is
    unchanged; at small scale it stops paying ~15-30 ms of Python
    task overhead for cores the data cannot fill (measured at sf0.1:
    a trivial two-stage mapInPandas chain over 5k rows costs ~1.3 s
    at 32 partitions vs ~0.5 s at 8).

    The row count comes from the scan's parquet footers (no Spark
    job), cached per (application, file set). Any shape where the
    count is unknowable from footers -- non-parquet input, object
    stores, filters above the scan making the estimate an OVERcount
    -- falls back to (or errs toward) full parallelism, never below.

    CAVEAT (per ADVICE.md): a row-MULTIPLYING plan above the scan
    (explode, join) makes the footer count an UNDERcount and would
    under-parallelize the stage. Only call this on raw scan
    projections (the _synthesize_media shape); for derived inputs use
    loopscope.known_rows / an observed count instead.
    """
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        return cap
    if not files:
        return cap
    key = (sc.applicationId, files)
    n = _ROWS_CACHE.get(key)
    if n is None:
        try:
            import pyarrow.parquet as pq

            n = 0
            for f in files:
                if not f.startswith("file:"):
                    return cap
                path = f[len("file:"):]
                if not path.endswith(".parquet"):
                    return cap
                n += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return cap
        _ROWS_CACHE[key] = n
    return max(1, min(cap, -(-n // _ROWS_PER_TASK)))


def _synthesize_media(documents: DataFrame, blob_fn) -> DataFrame:
    """Shared synthesizer shell: narrow doc_id projection,
    repartitioned FIRST (the single-file documents scan is one
    partition, which would serialize the Python codec work on one
    core) to a row-count-derived task count, then an Arrow-batched
    `blob_fn(doc_id) -> bytes` per row."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(m) for m in pdf["doc_id"]]
            yield pd.DataFrame(
                {"media_id": ids, "content": [blob_fn(m) for m in ids]}
            )

    return (
        documents.select("doc_id")
        .repartition(python_stage_parallelism(documents))
        .mapInPandas(_synth, _MEDIA_BLOB_SCHEMA)
    )


# --------------------------------------------------------------------
# tar (POSIX ustar)
# --------------------------------------------------------------------


def _octal(value: int, width: int) -> bytes:
    return (f"{value:0{width - 1}o}").encode("ascii") + b"\x00"


def build_tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """Minimal ustar writer for fixtures: regular files only."""
    out = bytearray()
    for name, content in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError("fixture names fit the 100-byte field")
        hdr = bytearray(512)
        hdr[0 : len(nb)] = nb
        hdr[100:108] = _octal(0o644, 8)
        hdr[108:116] = _octal(0, 8)
        hdr[116:124] = _octal(0, 8)
        hdr[124:136] = _octal(len(content), 12)
        hdr[136:148] = _octal(0, 12)
        hdr[148:156] = b" " * 8  # checksum blank for computation
        hdr[156] = ord("0")  # regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chksum = sum(hdr)
        hdr[148:155] = (f"{chksum:06o}").encode("ascii") + b"\x00"
        hdr[155] = 0x20
        out += hdr
        out += content
        pad = (-len(content)) % 512
        out += b"\x00" * pad
    out += b"\x00" * 1024
    return bytes(out)


@guard("tar")
def parse_tar_members(blob: bytes) -> list[dict]:
    """Walk ustar headers; returns member dicts with validated
    checksums. Raises on a corrupt header or truncated archive."""
    members = []
    pos = 0
    while pos + 512 <= len(blob):
        hdr = blob[pos : pos + 512]
        if hdr == b"\x00" * 512:
            break  # end-of-archive marker
        # integrity first: a corrupt header must fail the checksum,
        # not surface as a downstream decode error
        try:
            size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
            stored_ck = int(hdr[148:156].replace(b"\x00", b" ").strip(), 8)
        except ValueError as exc:
            raise ValueError(f"corrupt tar header at {pos}") from exc
        computed = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if computed != stored_ck:
            raise ValueError(f"tar checksum mismatch at {pos}")
        name = hdr[0:100].split(b"\x00", 1)[0].decode("utf-8")
        prefix = hdr[345:500].split(b"\x00", 1)[0].decode("utf-8")
        if prefix:
            name = prefix + "/" + name
        typeflag = chr(hdr[156]) if hdr[156] else "0"
        data_start = pos + 512
        if data_start + size > len(blob):
            raise ValueError(f"truncated tar member at {pos}")
        members.append(
            {
                "name": name,
                "size": size,
                "typeflag": typeflag,
                "offset": data_start,
                "content": blob[data_start : data_start + size],
            }
        )
        pos = data_start + size + ((-size) % 512)
    else:
        raise ValueError("tar without end-of-archive marker")
    return members


# --------------------------------------------------------------------
# zip
# --------------------------------------------------------------------

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"


def build_zip_bytes(members: list[tuple[str, bytes, int]]) -> bytes:
    """Minimal zip writer for fixtures: (name, content, method) with
    method 0 = stored, 8 = deflate (raw zlib stream, wbits=-15)."""
    out = bytearray()
    central = bytearray()
    for name, content, method in members:
        nb = name.encode("utf-8")
        crc = zlib.crc32(content) & 0xFFFFFFFF
        if method == 8:
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = comp.compress(content) + comp.flush()
        elif method == 0:
            payload = content
        else:
            raise ValueError(f"unsupported method {method}")
        local_off = len(out)
        out += _LOCAL_SIG + struct.pack(
            "<HHHHHIIIHH",
            20, 0, method, 0, 0, crc, len(payload), len(content),
            len(nb), 0,
        )
        out += nb + payload
        central += _CDIR_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, 0, method, 0, 0, crc, len(payload), len(content),
            len(nb), 0, 0, 0, 0, 0, local_off,
        )
        central += nb
    cd_off = len(out)
    out += central
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0, 0, len(members), len(members), len(central), cd_off, 0,
    )
    return bytes(out)


@guard("zip")
def parse_zip_members(blob: bytes) -> list[dict]:
    """EOCD scan from the tail, central-directory walk, extraction
    through the local header with CRC32 validation. STORED and
    DEFLATE members decode; other methods raise."""
    scan_from = max(0, len(blob) - 65536 - 22)
    eocd = blob.rfind(_EOCD_SIG, scan_from)
    if eocd < 0:
        raise ValueError("no zip end-of-central-directory")
    (_, _, n_here, n_total, cd_size, cd_off, _) = struct.unpack(
        "<HHHHIIH", blob[eocd + 4 : eocd + 22]
    )
    members = []
    pos = cd_off
    for _ in range(n_total):
        if blob[pos : pos + 4] != _CDIR_SIG:
            raise ValueError(f"bad central-directory entry at {pos}")
        (
            _, _, _, method, _, _, crc, csize, usize,
            nlen, xlen, clen, _, _, _, local_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", blob[pos + 4 : pos + 46])
        name = blob[pos + 46 : pos + 46 + nlen].decode("utf-8")
        pos += 46 + nlen + xlen + clen
        if blob[local_off : local_off + 4] != _LOCAL_SIG:
            raise ValueError(f"bad local header for {name}")
        lnlen, lxlen = struct.unpack(
            "<HH", blob[local_off + 26 : local_off + 30]
        )
        data_start = local_off + 30 + lnlen + lxlen
        payload = blob[data_start : data_start + csize]
        if method == 0:
            content = payload
        elif method == 8:
            content = zlib.decompress(payload, -15)
        else:
            raise NotImplementedError(
                f"zip compression method {method} needs an external codec"
            )
        if len(content) != usize:
            raise ValueError(f"size mismatch for {name}")
        if (zlib.crc32(content) & 0xFFFFFFFF) != crc:
            raise ValueError(f"crc mismatch for {name}")
        members.append(
            {
                "name": name,
                "method": method,
                "size": usize,
                "compressed_size": csize,
                "content": content,
            }
        )
    return members


# --------------------------------------------------------------------
# synthesizers + Spark operators
# --------------------------------------------------------------------


def _member_text(mid: int, k: int) -> bytes:
    """Closed-form member content (oracle-mirrored): the marker
    string repeated 3 + (mid+k) % 5 times."""
    return (f"doc-{mid}-{k};" * (3 + (mid + k) % 5)).encode("ascii")


def _tar_blob(mid: int) -> bytes:
    return build_tar_bytes(
        [
            (f"shard/{mid}/a.txt", _member_text(mid, 0)),
            (f"shard/{mid}/b.txt", _member_text(mid, 1)),
            (f"shard/{mid}/c.bin", _member_text(mid, 2)),
        ]
    )


def _zip_blob(mid: int) -> bytes:
    return build_zip_bytes(
        [
            (f"z/{mid}/a.txt", _member_text(mid, 0), 0),  # stored
            (f"z/{mid}/b.txt", _member_text(mid, 1), 8),  # deflate
        ]
    )


def synthesize_tar(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _tar_blob)


def synthesize_zip(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _zip_blob)


PACK_MEMBERS = StructType(
    [
        StructField("media_id", LongType()),
        StructField("name", StringType()),
        StructField("method", IntegerType()),  # tar: -1
        StructField("size", LongType()),
        StructField("content_md5", StringType()),
    ]
)


def tar_members(media: DataFrame) -> DataFrame:
    """One row per tar member: name, size, payload md5 (the
    WebDataset shard manifest a sampler builds before training)."""
    import hashlib

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PACK_MEMBERS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for m in parse_tar_members(bytes(blob)):
                    rows["media_id"].append(int(mid))
                    rows["name"].append(m["name"])
                    rows["method"].append(-1)
                    rows["size"].append(m["size"])
                    rows["content_md5"].append(
                        hashlib.md5(m["content"]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, PACK_MEMBERS
    )


def zip_members(media: DataFrame) -> DataFrame:
    """One row per zip member with the DECODED payload md5 -- stored
    members pass through, deflate members run a real inflate, both
    CRC-checked against the central directory."""
    import hashlib

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PACK_MEMBERS.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for m in parse_zip_members(bytes(blob)):
                    rows["media_id"].append(int(mid))
                    rows["name"].append(m["name"])
                    rows["method"].append(m["method"])
                    rows["size"].append(m["size"])
                    rows["content_md5"].append(
                        hashlib.md5(m["content"]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _walk, PACK_MEMBERS
    )


# --------------------------------------------------------------------
# HLS playlists (m3u8, RFC 8216) -- the text manifests next to fMP4
# --------------------------------------------------------------------


def _parse_attr_list(s: str) -> dict:
    """RFC 8216 section 4.2 attribute-list scan: comma-separated
    NAME=VALUE pairs where VALUE may be a quoted-string containing
    commas (CODECS="avc1.64001f,mp4a.40.2" is the canonical case a
    bare str.split(',') corrupts).  Quote-aware single pass; quotes
    are stripped from quoted values."""
    attrs: dict[str, str] = {}
    i, n = 0, len(s)
    while i < n:
        eq = s.find("=", i)
        if eq < 0:
            break
        name = s[i:eq].strip()
        j = eq + 1
        if j < n and s[j] == '"':
            end = s.find('"', j + 1)
            if end < 0:
                end = n  # unterminated quote: take the rest
            value = s[j + 1 : end]
            j = end + 1
        else:
            end = s.find(",", j)
            if end < 0:
                end = n
            value = s[j:end].strip()
            j = end
        if name:
            attrs[name] = value
        # skip to the next attribute past the separating comma
        comma = s.find(",", j)
        i = n if comma < 0 else comma + 1
    return attrs


@guard("m3u8")
def parse_m3u8(text: str) -> dict:
    """RFC 8216 media-playlist parse: #EXTINF durations paired with
    their URI lines, #EXT-X-TARGETDURATION / -MEDIA-SEQUENCE /
    -ENDLIST, and master-playlist #EXT-X-STREAM-INF variants
    (BANDWIDTH/RESOLUTION attributes). Pure text walk; raises on a
    missing #EXTM3U magic."""
    lines = [ln.strip() for ln in text.splitlines()]
    if not lines or lines[0] != "#EXTM3U":
        raise ValueError("not an m3u8 playlist: missing #EXTM3U")
    segments: list[dict] = []
    variants: list[dict] = []
    target = None
    media_seq = 0
    ended = False
    pending_dur = None
    pending_variant = None
    for ln in lines[1:]:
        if not ln:
            continue
        if ln.startswith("#EXT-X-TARGETDURATION:"):
            target = int(ln.split(":", 1)[1])
        elif ln.startswith("#EXT-X-MEDIA-SEQUENCE:"):
            media_seq = int(ln.split(":", 1)[1])
        elif ln.startswith("#EXT-X-ENDLIST"):
            ended = True
        elif ln.startswith("#EXTINF:"):
            pending_dur = float(ln.split(":", 1)[1].split(",", 1)[0])
        elif ln.startswith("#EXT-X-STREAM-INF:"):
            pending_variant = _parse_attr_list(ln.split(":", 1)[1])
        elif ln.startswith("#"):
            continue  # unknown tag
        else:  # a URI line closes the pending EXTINF or STREAM-INF
            if pending_variant is not None:
                variants.append(
                    {
                        "uri": ln,
                        "bandwidth": int(
                            pending_variant.get("BANDWIDTH", 0)
                        ),
                        "resolution": pending_variant.get(
                            "RESOLUTION", ""
                        ),
                    }
                )
                pending_variant = None
            elif pending_dur is not None:
                segments.append({"uri": ln, "duration": pending_dur})
                pending_dur = None
            else:
                raise ValueError(f"bare URI without EXTINF: {ln}")
    return {
        "target_duration": target,
        "media_sequence": media_seq,
        "ended": ended,
        "segments": segments,
        "variants": variants,
    }


def _m3u8_text(mid: int) -> str:
    n = 3 + mid % 4
    lines = [
        "#EXTM3U",
        "#EXT-X-VERSION:7",
        f"#EXT-X-TARGETDURATION:{4 + mid % 3}",
        f"#EXT-X-MEDIA-SEQUENCE:{mid % 100}",
    ]
    for k in range(n):
        # millisecond-precision durations, exact in both engines
        lines.append(f"#EXTINF:{2 + (mid + k) % 3}.{(mid + k) % 10}00,")
        lines.append(f"seg-{mid}-{k}.m4s")
    lines.append("#EXT-X-ENDLIST")
    return "\n".join(lines) + "\n"


def synthesize_m3u8(documents: DataFrame) -> DataFrame:
    return _synthesize_media(
        documents, lambda mid: _m3u8_text(mid).encode("ascii")
    )


M3U8_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_segments", IntegerType()),
        StructField("target_duration", IntegerType()),
        StructField("media_sequence", IntegerType()),
        StructField("ended", IntegerType()),
        StructField("total_ms", LongType()),
        StructField("first_uri", StringType()),
    ]
)


def hls_manifest_stats(media: DataFrame) -> DataFrame:
    """Playlist profile per manifest: segment count, exact total
    duration in integer MILLISECONDS (floats never aggregated), live
    vs VOD flag -- what a segment-fetch scheduler reads."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in M3U8_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                pl = parse_m3u8(bytes(blob).decode("utf-8"))
                rows["media_id"].append(int(mid))
                rows["n_segments"].append(len(pl["segments"]))
                rows["target_duration"].append(
                    pl["target_duration"] or 0
                )
                rows["media_sequence"].append(pl["media_sequence"])
                rows["ended"].append(int(pl["ended"]))
                rows["total_ms"].append(
                    sum(
                        int(round(s["duration"] * 1000))
                        for s in pl["segments"]
                    )
                )
                rows["first_uri"].append(
                    pl["segments"][0]["uri"] if pl["segments"] else ""
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, M3U8_SCHEMA
    )


# --------------------------------------------------------------------
# tar shard writer + streaming manifest (WebDataset ingest shape)
# --------------------------------------------------------------------


def write_tar_shards(documents: DataFrame, path: str) -> int:
    """One tar shard per input partition -- the WebDataset layout
    (members grouped by sample key inside each shard). Same
    attempt-atomic commit protocol as the archive writers
    (sources/archive.py::_write_rotated_members): attempt-unique
    `.tmp` files, driver renames only after every partition
    succeeded, temp sweep on success AND failure."""
    import os

    os.makedirs(path, exist_ok=True)
    rows = documents.select("doc_id")

    def _write_partition(idx: int, it):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        members = []
        for row in it:
            mid = int(row["doc_id"])
            for k, suffix in enumerate(("a.txt", "b.txt", "c.bin")):
                members.append(
                    (f"shard/{mid}/{suffix}", _member_text(mid, k))
                )
        if not members:
            return iter(())
        fname = f"shard-{idx:05d}.tar"
        tmp = f"{fname}.{attempt}.tmp"
        with open(os.path.join(path, tmp), "wb") as out:
            out.write(build_tar_bytes(members))
        return iter([(fname, tmp)])

    def _sweep() -> None:
        for leftover in os.listdir(path):
            if leftover.endswith(".tmp"):
                try:
                    os.remove(os.path.join(path, leftover))
                except OSError:
                    pass

    try:
        names = rows.rdd.mapPartitionsWithIndex(_write_partition).collect()
    except Exception:
        _sweep()
        raise
    for fname, tmp in names:
        os.replace(os.path.join(path, tmp), os.path.join(path, fname))
    _sweep()
    return len(names)


def read_tar_stream(spark, path: str) -> DataFrame:
    """Streaming tar-shard source: binaryFile readStream with
    exactly-once per-file tracking -- manifests stay current as
    shards LAND, the tail-the-ingest shape of read_arc_v1_stream."""
    from pyspark.sql.types import BinaryType, TimestampType

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.tar")
        .load(path)
    )


def tar_member_manifest(files: DataFrame) -> DataFrame:
    """Member manifest keyed by the sample id encoded in the member
    path (shard/<id>/<file>) -- works identically on a batch or
    streaming files DataFrame (same kernel, same schema), so the
    batch gate's oracle gates the streaming path too."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import re

        for pdf in batches:
            rows = {k.name: [] for k in PACK_MEMBERS.fields}
            for blob in pdf["content"]:
                for m in parse_tar_members(bytes(blob)):
                    match = re.match(r"shard/(\d+)/", m["name"])
                    rows["media_id"].append(
                        int(match.group(1)) if match else -1
                    )
                    rows["name"].append(m["name"])
                    rows["method"].append(-1)
                    rows["size"].append(m["size"])
                    rows["content_md5"].append(
                        hashlib.md5(m["content"]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return files.select("content").mapInPandas(_walk, PACK_MEMBERS)


# --------------------------------------------------------------------
# Subtitles: SRT and WebVTT -- the text tracks beside media segments
# --------------------------------------------------------------------


def _parse_ts(ts: str) -> int:
    """'HH:MM:SS,mmm' (SRT) or '[HH:]MM:SS.mmm' (WebVTT) -> integer
    milliseconds."""
    ts = ts.strip().replace(",", ".")
    parts = ts.split(":")
    if len(parts) == 2:
        parts = ["0", *parts]
    if len(parts) != 3:
        raise ValueError(f"bad timestamp {ts!r}")
    h, m = int(parts[0]), int(parts[1])
    if "." in parts[2]:
        s, ms = parts[2].split(".")
    else:
        s, ms = parts[2], "0"
    return ((h * 60 + m) * 60 + int(s)) * 1000 + int(ms.ljust(3, "0")[:3])


@guard("subtitles")
def parse_subtitles(text: str) -> list[dict]:
    """Cue list from an SRT or WebVTT document: (start_ms, end_ms,
    text). Handles the WEBVTT magic + header block, optional numeric
    cue indices / named cue ids, and multi-line cue text. Raises on
    cues whose end precedes their start."""
    lines = text.replace("\r\n", "\n").split("\n")
    i = 0
    if lines and lines[0].startswith("WEBVTT"):
        i = 1
        while i < len(lines) and lines[i].strip():
            i += 1  # header metadata block
    cues = []
    while i < len(lines):
        while i < len(lines) and not lines[i].strip():
            i += 1
        if i >= len(lines):
            break
        if "-->" not in lines[i]:
            i += 1  # cue index or named id line
            if i >= len(lines) or "-->" not in lines[i]:
                raise ValueError(f"expected cue timing near line {i}")
        timing = lines[i].split("-->")
        start = _parse_ts(timing[0])
        # WebVTT allows settings after the end timestamp
        end = _parse_ts(timing[1].strip().split(" ")[0])
        if end < start:
            raise ValueError(f"cue ends before it starts at line {i}")
        i += 1
        body = []
        while i < len(lines) and lines[i].strip():
            body.append(lines[i])
            i += 1
        cues.append(
            {"start_ms": start, "end_ms": end, "text": "\n".join(body)}
        )
    return cues


def _srt_text(mid: int) -> str:
    n = 2 + mid % 4
    out = []
    t = (mid % 7) * 1000
    for k in range(n):
        dur = 1500 + ((mid + k) % 5) * 250
        out.append(str(k + 1))
        out.append(
            f"{t//3600000:02d}:{t//60000%60:02d}:{t//1000%60:02d},{t%1000:03d}"
            " --> "
            f"{(t+dur)//3600000:02d}:{(t+dur)//60000%60:02d}:"
            f"{(t+dur)//1000%60:02d},{(t+dur)%1000:03d}"
        )
        out.append(f"cue-{mid}-{k}")
        out.append("")
        t += dur + 100
    return "\n".join(out)


def synthesize_srt(documents: DataFrame) -> DataFrame:
    return _synthesize_media(
        documents, lambda mid: _srt_text(mid).encode("utf-8")
    )


def _vtt_text(mid: int) -> str:
    """WebVTT twin of _srt_text, exercising the VTT-specific grammar:
    the WEBVTT magic + header metadata block, NAMED cue ids, cue
    settings after the end timestamp, and the short MM:SS.mmm
    timestamp form (hours omitted)."""
    n = 2 + mid % 4
    out = ["WEBVTT - corpus track", "Kind: captions",
           f"Language: l{mid % 5}", ""]
    t = (mid % 7) * 1000
    for k in range(n):
        dur = 1500 + ((mid + k) % 5) * 250

        def _ts(ms: int) -> str:
            if ms < 3600000:  # short form: MM:SS.mmm
                return f"{ms//60000:02d}:{ms//1000%60:02d}.{ms%1000:03d}"
            return (
                f"{ms//3600000:02d}:{ms//60000%60:02d}:"
                f"{ms//1000%60:02d}.{ms%1000:03d}"
            )

        out.append(f"cueid-{mid}-{k}")
        out.append(
            f"{_ts(t)} --> {_ts(t + dur)} align:start position:10%"
        )
        out.append(f"cue-{mid}-{k}")
        out.append("")
        t += dur + 100
    return "\n".join(out)


def synthesize_webvtt(documents: DataFrame) -> DataFrame:
    return _synthesize_media(
        documents, lambda mid: _vtt_text(mid).encode("utf-8")
    )


SUBTITLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_cues", IntegerType()),
        StructField("total_cue_ms", LongType()),
        StructField("span_ms", LongType()),
        StructField("first_text", StringType()),
    ]
)


def subtitle_stats(media: DataFrame) -> DataFrame:
    """Per-track cue profile: count, summed cue durations, full
    start-to-end span -- the alignment units a speech/caption corpus
    trains on."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in SUBTITLE_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                cues = parse_subtitles(bytes(blob).decode("utf-8"))
                if not cues:
                    raise ValueError(
                        f"no cues for media_id={int(mid)}"
                    )
                rows["media_id"].append(int(mid))
                rows["n_cues"].append(len(cues))
                rows["total_cue_ms"].append(
                    sum(c["end_ms"] - c["start_ms"] for c in cues)
                )
                rows["span_ms"].append(
                    cues[-1]["end_ms"] - cues[0]["start_ms"]
                )
                rows["first_text"].append(cues[0]["text"])
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _stats, SUBTITLE_SCHEMA
    )
