"""Gzip-member archive source/sink (ARC-format analog).

Reference (SURVEY.md section 2.1): ARC files are a concatenation of
independently-gzipped members, one document each, with a plain-text
header line before the payload (util/ArcFileWriter.java:77,565 writes
them with size rotation; util/ArcFileReader.java and
hadoop/io/ARCInputFormat.java:39,168-175 split + iterate them).

This engine's `ccarc` format keeps that wire shape:

    member   := gzip( header "\\n" payload )
    header   := "ccarc/1 <key> <payload-length>"
    archive  := member member ... (one file per writer partition,
                rotated at `rotate_bytes`)

Because every member is its own gzip stream, archives are
*splittable at member boundaries* and members are readable without
decompressing siblings -- the property the ARC format was designed
for.

Spark integration:
- writer: `df.rdd.mapPartitionsWithIndex` streams members to rotated
  part files; one task per partition, no driver funnel.
- reader: `spark.read.format("binaryFile")` lists + loads whole
  archives (they are size-capped by rotation), then `mapInPandas`
  walks gzip members per file, yielding (key, payload, source file,
  member offset) -- offsets support the reference's point-seek reads
  (ArcFileItem arcFileDate/Index/Offset/Size metadata fields,
  protocol.jr:165-283).
"""

from __future__ import annotations

import bisect
import gzip
import io
import os
import re
import zlib

from . import ranged_io
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (

    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.parseguard import guard
MAGIC = b"ccarc/1"
DEFAULT_ROTATE_BYTES = 64 * 1024 * 1024  # size rotation like ArcFileWriter
_WS_RE = re.compile(r"\s")

# --- real ARC v1 constants (util/ArcFileWriter.java:83-104) ---
ARC_MAGIC = "filedesc://"
ARC_SUFFIX = ".arc.gz"
# {8,0,'L','X',4,0,0,0,0,0}: the IA 'LX' gzip extra field the writer
# splices into the filedesc member (ArcFileWriter.java:93,1220-1232)
ARC_GZIP_EXTRA_FIELD = bytes([8, 0, ord("L"), ord("X"), 4, 0, 0, 0, 0, 0])
_ARC_LINES_2_3 = "\n1 0 CommonCrawl\nURL IP-address Archive-date Content-type Archive-length\n"

READ_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("payload", BinaryType()),
        StructField("archive_path", StringType()),
        StructField("member_offset", LongType()),
    ]
)

ARC_READ_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ip", StringType()),
        StructField("archive_date", StringType()),  # raw TIMESTAMP14
        StructField("fetch_epoch_ms", LongType()),  # parsed; 0 if invalid
        StructField("mime", StringType()),
        StructField("record_length", LongType()),
        StructField(
            "headers",
            # ArcFileHeaderItem: colon-less lines are value-only items
            # (ArcFileReader.java:755-760), so key is nullable
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", StringType()),
                    ]
                )
            ),
        ),
        StructField("payload", BinaryType()),
        StructField("archive_path", StringType()),
        StructField("member_offset", LongType()),
    ]
)


def _member_bytes(key: str, payload: bytes) -> bytes:
    header = b"%s %s %d\n" % (MAGIC, key.encode("utf-8"), len(payload))
    buf = io.BytesIO()
    # mtime=0 -> deterministic output bytes for identical input
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(header)
        gz.write(payload)
    return buf.getvalue()


def write_archive(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    payload_col: str = "payload",
    rotate_bytes: int = DEFAULT_ROTATE_BYTES,
) -> int:
    """Write (key, payload) rows as rotated gzip-member archives.

    One writer per input partition (no shuffle, no driver funnel);
    files rotate at `rotate_bytes` like ArcFileWriter.java:565.
    Returns the number of archive files written. Keys containing
    whitespace are rejected: the member header is space-delimited, so
    such a key would write an archive the reader cannot parse. The
    check runs inside the single write pass (raised from the executor,
    surfaced as the job error) -- no separate validation job
    recomputing the upstream pipeline.

    Write is job-atomic the way Hadoop's file-commit protocol is:
    each task ATTEMPT writes `.ccarc.<attempt>.tmp` files (attempt-
    unique, so a speculative or zombie attempt can never interleave
    bytes with a retry's file) and the driver renames the successful
    attempts' temps to `.ccarc` only after every partition succeeded.
    A failed job leaves NO reader-visible archives -- readers glob
    `*.ccarc` and never see temps -- and all temp files are removed on
    both success and failure.
    Local-filesystem path semantics: on a multi-node cluster point
    `path` at a shared mount, or swap the open()/rename for an
    fsspec/Hadoop filesystem handle -- the partition-writer contract
    is unchanged.
    """
    rows = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(payload_col).cast("binary").alias("payload"),
    )

    def member(row) -> bytes:
        if _WS_RE.search(row["key"] or ""):
            raise ValueError(
                "archive keys must not contain whitespace: "
                f"{row['key']!r}"
            )
        return _member_bytes(row["key"], bytes(row["payload"] or b""))

    return _write_rotated_members(
        rows, path, "part-{idx:05d}-{rot:03d}.ccarc", member,
        rotate_bytes=rotate_bytes,
    )


def _write_rotated_members(
    rows: DataFrame,
    path: str,
    name_fmt: str,
    member_fn,
    prologue_fn=None,
    rotate_bytes: int = DEFAULT_ROTATE_BYTES,
) -> int:
    """Shared rotated-archive writer engine (one copy of the commit
    protocol for ccarc/ARC/WARC): one writer per input partition (no
    shuffle, no driver funnel), size rotation, attempt-unique `.tmp`
    files renamed by the driver only after every partition succeeded,
    temp sweep on success AND failure. `member_fn(row) -> bytes`
    builds (and validates) each record; `prologue_fn(fname) -> bytes`
    opens every new file (ARC's filedesc member)."""
    os.makedirs(path, exist_ok=True)

    def _write_partition(idx: int, it: Iterator) -> Iterator[tuple]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        names: list[tuple] = []
        out = None
        size = 0
        rotation = 0
        for row in it:
            member = member_fn(row)
            if out is None or size + len(member) > rotate_bytes:
                if out is not None:
                    out.close()
                fname = name_fmt.format(idx=idx, rot=rotation)
                tmp = f"{fname}.{attempt}.tmp"
                out = open(os.path.join(path, tmp), "wb")
                names.append((fname, tmp))
                rotation += 1
                size = 0
                if prologue_fn is not None:
                    prologue = prologue_fn(fname)
                    out.write(prologue)
                    size = len(prologue)
            out.write(member)
            size += len(member)
        if out is not None:
            out.close()
        yield from names

    def _sweep_temps() -> None:
        for leftover in os.listdir(path):
            if leftover.endswith(".tmp"):
                try:
                    os.remove(os.path.join(path, leftover))
                except OSError:
                    pass

    try:
        names = rows.rdd.mapPartitionsWithIndex(_write_partition).collect()
    except Exception:
        _sweep_temps()
        raise
    # every partition succeeded: commit the SUCCESSFUL attempts' temps
    # by rename (atomic per file on a POSIX/HDFS filesystem), then
    # sweep any stale temps from failed/zombie attempts
    for fname, tmp in names:
        os.replace(os.path.join(path, tmp), os.path.join(path, fname))
    _sweep_temps()
    return len(names)


def _iter_members(content: bytes) -> Iterator[tuple[int, str, bytes]]:
    """Walk gzip members in one archive: (offset, key, payload).

    zlib.decompressobj(wbits=31) stops at each member's end (unlike
    gzip.GzipFile.read(), which silently concatenates consecutive
    members) -- unused_data marks the next member's offset.
    """
    pos = 0
    while pos < len(content):
        d = zlib.decompressobj(wbits=31)
        data = d.decompress(content[pos:])
        if not d.eof:
            raise ValueError(f"truncated ccarc member at offset {pos}")
        nl = data.index(b"\n")
        magic, key, length = data[:nl].split(b" ")
        if magic != MAGIC:
            raise ValueError(f"bad ccarc member at offset {pos}")
        payload = data[nl + 1 : nl + 1 + int(length)]
        yield pos, key.decode("utf-8"), payload
        pos = len(content) - len(d.unused_data)


def read_archive(spark: SparkSession, path: str) -> DataFrame:
    """Read ccarc archives into (key, payload, archive_path, member_offset).

    binaryFile handles listing/partitioning (one task per archive --
    archives are size-rotated so tasks are balanced); member parsing
    is an Arrow-batched mapInPandas, the idiomatic slot for
    per-record imperative decode the ARCInputFormat did in Java.
    """
    files = spark.read.format("binaryFile").load(f"{path}/*.ccarc")

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "key": [],
                "payload": [],
                "archive_path": [],
                "member_offset": [],
            }
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for offset, key, payload in _iter_members(bytes(content)):
                    out["key"].append(key)
                    out["payload"].append(payload)
                    out["archive_path"].append(fpath)
                    out["member_offset"].append(offset)
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(_parse, READ_SCHEMA)


# ---------------------------------------------------------------------------
# Real ARC v1 compatibility (the 2008-2012 CommonCrawl wire format)
# ---------------------------------------------------------------------------
#
# Record layout (util/ArcFileWriter.java:850-885,958-975):
#
#   file      := filedesc-member record-member ...
#   filedesc  := gzip+LX( "filedesc://<name> 0.0.0.0 <ts14> text/plain
#                 <len(lines23)>" lines23 "\n" )
#   lines23   := "\n1 0 CommonCrawl\nURL IP-address Archive-date
#                 Content-type Archive-length\n"
#   record    := gzip( metaline headers "\r\n" content "\n" )
#   metaline  := "<url> <ip> <ts14> <mime> <record-length>\n"   (5 tokens,
#                 validated by METADATA_LINE_PATTERN, :99-102)
#   headers   := HTTP headers, each line "\r\n"-terminated; the extra
#                 "\r\n" forms the CRLF-CRLF terminator the reader's
#                 state machine scans for (ArcFileReader.java:557-600)
#   record-length = len(headers incl. blank line) + len(content)
#
# The reader below mirrors ArcFileBuilder (ArcFileReader.java:514-800):
# metaline tokenized on spaces (first 5 tokens), TIMESTAMP14 parse
# failure -> epoch 0, header lines split at the FIRST colon with the
# after-colon remainder kept VERBATIM (leading space included); a line
# with no colon (or colon-at-end) becomes a value-only header item.


def _ts14_ms(ts14: str) -> int:
    """TIMESTAMP14 -> epoch millis; 0 on parse failure like
    ArcFileReader.java:699-709 (UTC: the engine pins sessions to UTC
    where the reference used JVM-default-zone SimpleDateFormat)."""
    import calendar
    import time as _time

    try:
        st = _time.strptime(ts14, "%Y%m%d%H%M%S")
        return calendar.timegm(st) * 1000
    except ValueError:
        return 0


def _gzip_bytes(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(data)
    return buf.getvalue()


def _gzip_with_lx(data: bytes) -> bytes:
    """Gzip with the IA 'LX' extra field spliced after the 10-byte
    header: FLG bit 2 (FEXTRA) set, OS byte -> 3/unix
    (ArcFileWriter.java:1205-1232)."""
    raw = bytearray(_gzip_bytes(data))
    if raw[3] != 0:
        raise ValueError("unexpected non-zero GZIP FLG header")
    raw[3] = 4
    raw[9] = 3
    return bytes(raw[:10]) + ARC_GZIP_EXTRA_FIELD + bytes(raw[10:])


def _arc_filedesc_member(filename: str, ts14: str) -> bytes:
    lines23 = _ARC_LINES_2_3
    record_length = len(lines23.encode("ISO-8859-1"))
    header = (
        f"{ARC_MAGIC}{filename} 0.0.0.0 {ts14} text/plain "
        f"{record_length}{lines23}\n"
    )
    return _gzip_with_lx(header.encode("ISO-8859-1"))


def _check_header_lines(header_lines) -> None:
    """Reject header keys/values containing CR/LF (they would forge
    the CRLF-CRLF terminator: remaining headers silently leak into
    the payload, or for WARC the Content-Length goes unreadable) and
    fully-empty lines (indistinguishable from the terminator)."""
    for k, v in header_lines:
        for part in (k, v):
            if part is not None and ("\r" in part or "\n" in part):
                raise ValueError(
                    f"header fields must not contain CR/LF: {(k, v)!r}"
                )
        if k is None and not v:
            raise ValueError(
                "empty header lines are indistinguishable from the "
                "header terminator; drop them before writing"
            )


def _arc_record_member(
    url: str,
    ip: str,
    ts14: str,
    mime: str,
    header_lines: list[tuple[str | None, str]],
    payload: bytes,
) -> bytes:
    _check_header_lines(header_lines)
    hdr = (
        "".join(
            (f"{k}: {v}" if k is not None else v) + "\r\n"
            for k, v in header_lines
        )
        + "\r\n"
    ).encode("utf-8")
    record_length = len(hdr) + len(payload)
    metaline = f"{url} {ip} {ts14} {mime} {record_length}\n"
    if _WS_RE.search(url) or _WS_RE.search(ip) or _WS_RE.search(mime):
        # METADATA_LINE_PATTERN: 5 \S+ tokens -- embedded whitespace
        # would produce a metaline the reader mis-tokenizes
        raise ValueError(f"ARC metaline fields must not contain whitespace: {metaline!r}")
    return _gzip_bytes(metaline.encode("utf-8") + hdr + payload + b"\n")


def write_arc_v1(
    df: DataFrame,
    path: str,
    file_ts14: str = "20080101000000",
    rotate_bytes: int = DEFAULT_ROTATE_BYTES,
) -> int:
    """Write rows as real ARC v1 archives (one writer per partition,
    rotation at `rotate_bytes` like ArcFileWriter MAX_SIZE, each file
    opened with its filedesc:// member).

    Expects columns: url, ip, ts14 (string), mime, payload (binary)
    and optionally headers (array<struct<key,value>>). `file_ts14`
    pins the filedesc timestamp (the reference stamps wall-clock,
    ArcFileWriter.java:1006 -- parameterized here so output bytes are
    deterministic). Commit protocol identical to write_archive:
    attempt-unique temps renamed by the driver after job success.
    """
    cols = ["url", "ip", "ts14", "mime", "payload"]
    has_headers = "headers" in df.columns
    if has_headers:
        cols.append("headers")
    rows = df.select(*cols)

    def member(row) -> bytes:
        hdrs = []
        if has_headers and row["headers"] is not None:
            hdrs = [(h["key"], h["value"]) for h in row["headers"]]
        return _arc_record_member(
            row["url"],
            row["ip"],
            row["ts14"],
            row["mime"],
            hdrs,
            bytes(row["payload"] or b""),
        )

    return _write_rotated_members(
        rows,
        path,
        "{idx:05d}-{rot:03d}" + ARC_SUFFIX,
        member,
        prologue_fn=lambda fname: _arc_filedesc_member(fname, file_ts14),
        rotate_bytes=rotate_bytes,
    )


@guard("arc-member")
def _parse_arc_member(data: bytes) -> tuple | None:
    """One decompressed ARC member -> (url, ip, ts14, epoch_ms, mime,
    record_length, headers, payload), or None for the filedesc member."""
    nl = data.find(b"\n")
    if nl < 0:
        raise ValueError("ARC member without metaline terminator")
    metaline = data[:nl].decode("ascii", errors="replace")
    if metaline.startswith(ARC_MAGIC):
        return None
    # first five space-delimited tokens (StringTokenizer semantics:
    # runs of separators collapse; ArcFileReader.java:678-724)
    toks = metaline.split()
    url = toks[0] if len(toks) > 0 else None
    ip = toks[1] if len(toks) > 1 else None
    ts14 = toks[2] if len(toks) > 2 else None
    mime = toks[3] if len(toks) > 3 else None
    try:
        record_length = int(toks[4]) if len(toks) > 4 else None
    except ValueError:
        record_length = None
    body = data[nl + 1 :]
    # CRLF-CRLF header terminator (ArcFileReader.java:557-581); a
    # zero-header record's blank line is a bare CRLF at body start
    if body.startswith(b"\r\n"):
        hdr_bytes, content = body[:2], body[2:]
    else:
        hdr_end = body.find(b"\r\n\r\n")
        if hdr_end < 0:
            hdr_bytes, content = b"", body
        else:
            hdr_bytes = body[: hdr_end + 4]
            content = body[hdr_end + 4 :]
    # the writer appends one LINE_SEPARATOR after the content
    # (ArcFileWriter.java:883); prefer the metaline record length to
    # recover the exact payload, fall back to stripping that byte
    if record_length is not None and 0 <= record_length - len(hdr_bytes) <= len(content):
        content = content[: record_length - len(hdr_bytes)]
    elif content.endswith(b"\n"):
        content = content[:-1]
    headers = []
    for line in hdr_bytes.decode("utf-8", errors="replace").split("\r\n"):
        if not line:
            continue
        colon = line.find(":")
        if colon != -1 and colon != len(line) - 1:
            # after-colon remainder kept verbatim (leading space and
            # all), matching ArcFileReader.java:744-747
            headers.append({"key": line[:colon], "value": line[colon + 1 :]})
        else:
            headers.append({"key": None, "value": line})
    return (
        url,
        ip,
        ts14,
        _ts14_ms(ts14) if ts14 is not None else 0,
        mime,
        record_length,
        headers,
        content,
    )


def _parse_arc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shared by the batch and streaming ARC v1
    readers: whole-archive bytes -> typed record rows."""
    for pdf in batches:
        out: dict[str, list] = {f.name: [] for f in ARC_READ_SCHEMA.fields}
        for fpath, blob in zip(pdf["path"], pdf["content"]):
            content = bytes(blob)
            pos = 0
            while pos < len(content):
                d = zlib.decompressobj(wbits=31)
                data = d.decompress(content[pos:])
                if not d.eof:
                    raise ValueError(f"truncated ARC member at offset {pos}")
                rec = _parse_arc_member(data)
                if rec is not None:
                    (url, ip, ts14, ms, mime, rlen, hdrs, payload) = rec
                    out["url"].append(url)
                    out["ip"].append(ip)
                    out["archive_date"].append(ts14)
                    out["fetch_epoch_ms"].append(ms)
                    out["mime"].append(mime)
                    out["record_length"].append(rlen)
                    out["headers"].append(hdrs)
                    out["payload"].append(payload)
                    out["archive_path"].append(fpath)
                    out["member_offset"].append(pos)
                pos = len(content) - len(d.unused_data)
        yield pd.DataFrame(out)


def read_arc_v1(spark: SparkSession, path: str) -> DataFrame:
    """Read real ARC v1 archives into typed rows.

    Same execution shape as read_archive: binaryFile lists whole
    (rotation-capped) archives, one task each; the gzip-member walk +
    ArcFileBuilder-equivalent parse runs as an Arrow-batched
    mapInPandas. filedesc:// members are skipped (they describe the
    file, not a document)."""
    files = spark.read.format("binaryFile").load(f"{path}/*{ARC_SUFFIX}")

    return files.select("path", "content").mapInPandas(
        _parse_arc_batches, ARC_READ_SCHEMA
    )


# ---------------------------------------------------------------------------
# WARC 1.0 (ISO 28500) -- the format CommonCrawl moved to after ARC
# ---------------------------------------------------------------------------
#
# Public spec (ISO 28500 / WARC 1.0, the format of every CommonCrawl
# crawl since 2013). A .warc.gz is a concatenation of independently
# gzipped members (same splittability property as ARC); each member:
#
#   record    := version-line CRLF header-lines CRLF CRLF block CRLF CRLF
#   version   := "WARC/1.0"
#   headers   := "Name: value" CRLF each; Content-Length is REQUIRED
#                and gives the exact block byte length
#
# A user of the reference pointing this engine at modern CommonCrawl
# data lands here; SURVEY.md section 2.1 row "ARCInputFormat" notes
# 'for WARC today use an archive-spark-style reader' -- this is that
# reader, same binaryFile + mapInPandas execution shape.

WARC_SUFFIX = ".warc.gz"

WARC_READ_SCHEMA = StructType(
    [
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", StringType()),
                    ]
                )
            ),
        ),
        StructField("block", BinaryType()),
        StructField("archive_path", StringType()),
        StructField("member_offset", LongType()),
        # Compressed gzip-member size (next member's offset minus this
        # one's) -- the byte count a ranged GET of [member_offset,
        # member_offset + member_length) must fetch to inflate exactly
        # this record. The reference computes the same stream-position
        # delta (ArcFileReader.java:294), and the published
        # cc-index-table's warc_record_length carries it; Content-Length
        # (uncompressed block bytes) lives in content_length.
        StructField("member_length", LongType()),
    ]
)


def _warc_record_bytes(headers: list[tuple[str, str]], block: bytes) -> bytes:
    _check_header_lines(headers)
    head = "WARC/1.0\r\n" + "".join(
        f"{k}: {v}\r\n" for k, v in headers
    ) + f"Content-Length: {len(block)}\r\n\r\n"
    return _gzip_bytes(head.encode("utf-8") + block + b"\r\n\r\n")


def write_warc(
    df: DataFrame,
    path: str,
    rotate_bytes: int = DEFAULT_ROTATE_BYTES,
) -> int:
    """Write rows as WARC 1.0 archives (one gzip member per record,
    rotation + attempt-atomic commit identical to write_arc_v1).

    Expects columns: warc_type, record_id, target_uri (nullable for
    warcinfo-style records), warc_date (ISO-8601 string), content_type,
    block (binary), and optionally headers (extra array<struct<key,
    value>> appended verbatim). Content-Length is computed, never
    trusted from input. warc_type/record_id/warc_date are REQUIRED
    per the spec -- a NULL raises instead of silently writing the
    literal string 'None'."""
    cols = ["warc_type", "record_id", "target_uri", "warc_date",
            "content_type", "block"]
    has_extra = "headers" in df.columns
    if has_extra:
        cols.append("headers")
    rows = df.select(*cols)

    def member(row) -> bytes:
        for req in ("warc_type", "record_id", "warc_date"):
            if row[req] is None:
                raise ValueError(
                    f"WARC records require {req} (mandatory header)"
                )
        hdrs = [
            ("WARC-Type", row["warc_type"]),
            ("WARC-Record-ID", row["record_id"]),
            ("WARC-Date", row["warc_date"]),
        ]
        if row["target_uri"] is not None:
            hdrs.append(("WARC-Target-URI", row["target_uri"]))
        if row["content_type"] is not None:
            hdrs.append(("Content-Type", row["content_type"]))
        if has_extra and row["headers"] is not None:
            hdrs.extend((h["key"], h["value"]) for h in row["headers"])
        return _warc_record_bytes(hdrs, bytes(row["block"] or b""))

    return _write_rotated_members(
        rows,
        path,
        "{idx:05d}-{rot:03d}" + WARC_SUFFIX,
        member,
        rotate_bytes=rotate_bytes,
    )


@guard("warc-member")
def _parse_warc_member(data: bytes) -> tuple:
    """One decompressed WARC member -> (type, id, uri, date, ctype,
    clen, headers, block). Header names are case-insensitive per spec;
    the returned headers list preserves original casing and order."""
    nl = data.find(b"\r\n")
    if nl < 0 or not data[:nl].startswith(b"WARC/"):
        raise ValueError("not a WARC record (missing WARC/ version line)")
    hdr_end = data.find(b"\r\n\r\n", nl)
    if hdr_end < 0:
        raise ValueError("WARC record without header terminator")
    headers: list[dict] = []
    lookup: dict[str, str] = {}
    for line in data[nl + 2 : hdr_end].decode("utf-8", "replace").split("\r\n"):
        if not line:
            continue
        k, _, v = line.partition(":")
        v = v.strip()
        headers.append({"key": k, "value": v})
        lookup[k.lower()] = v
    try:
        clen = int(lookup["content-length"])
    except (KeyError, ValueError):
        raise ValueError("WARC record without a valid Content-Length") from None
    block = data[hdr_end + 4 : hdr_end + 4 + clen]
    if len(block) != clen:
        raise ValueError("truncated WARC block")
    return (
        lookup.get("warc-type"),
        lookup.get("warc-record-id"),
        lookup.get("warc-target-uri"),
        lookup.get("warc-date"),
        lookup.get("content-type"),
        clen,
        headers,
        block,
    )


def _parse_warc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Shared Arrow-batched member-walk parse kernel for the batch
    and streaming WARC readers (same discipline as the ARC pair)."""
    for pdf in batches:
        out: dict[str, list] = {
            f.name: [] for f in WARC_READ_SCHEMA.fields
        }
        for fpath, blob in zip(pdf["path"], pdf["content"]):
            content = bytes(blob)
            pos = 0
            while pos < len(content):
                d = zlib.decompressobj(wbits=31)
                data = d.decompress(content[pos:])
                if not d.eof:
                    raise ValueError(
                        f"truncated WARC member at offset {pos}"
                    )
                (wt, rid, uri, date, ctype, clen, hdrs, block) = (
                    _parse_warc_member(data)
                )
                out["warc_type"].append(wt)
                out["record_id"].append(rid)
                out["target_uri"].append(uri)
                out["warc_date"].append(date)
                out["content_type"].append(ctype)
                out["content_length"].append(clen)
                out["headers"].append(hdrs)
                out["block"].append(block)
                out["archive_path"].append(fpath)
                out["member_offset"].append(pos)
                nxt = len(content) - len(d.unused_data)
                out["member_length"].append(nxt - pos)
                pos = nxt
        yield pd.DataFrame(out)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC 1.0 archives into typed rows (binaryFile listing, one
    task per rotation-capped archive; Arrow-batched member parse).
    All record types are returned -- filter on warc_type ('response',
    'request', 'metadata', 'warcinfo') downstream; Catalyst prunes the
    block column away for metadata-only queries."""
    files = spark.read.format("binaryFile").load(f"{path}/*{WARC_SUFFIX}")
    return files.select("path", "content").mapInPandas(
        _parse_warc_batches, WARC_READ_SCHEMA
    )


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming WARC source: the same member-walk parse over
    archives as they LAND in a directory (readStream + binaryFile
    file source, exactly-once per-file checkpoint tracking) -- the
    tail-the-crawl ingest shape, symmetric with read_arc_v1_stream.
    Compose with ccindex_table + a partitioned parquet sink to keep
    the columnar index current as segments arrive."""
    from pyspark.sql.types import TimestampType

    binary_file_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("pathGlobFilter", f"*{WARC_SUFFIX}")
        .load(path)
    )
    return files.select("path", "content").mapInPandas(
        _parse_warc_batches, WARC_READ_SCHEMA
    )


def read_member_at(
    path: str, offset: int, kind: str = "warc", length: int | None = None
):
    """Point-seek read of ONE archive member without touching its
    siblings -- the property ARC/WARC were designed for and the
    reference's query server exploits (ArcFileItem arcFileOffset
    metadata, protocol.jr:165-283: seek + inflate one record).

    `kind`: 'warc' -> parsed WARC tuple, 'arc' -> parsed ARC v1 tuple
    (None for a filedesc member), 'ccarc' -> (key, payload). The
    byte access goes through the `ranged_io.read_range` seam: a bare
    path is seek()ed locally; a scheme'd URI (s3://, gcs://, ...)
    becomes a true ranged GET -- the member is one self-terminating
    gzip stream, so no length is needed up front. Pass `length` (the
    index's warc_record_length / CDX length -- the compressed member
    size) to read EXACTLY the member's bytes, the object-store
    range-request form: GET bytes=offset..offset+length-1. With a
    length the read also asserts the slice is one whole member and
    nothing more -- the pointer-contract check a consumer relies
    on."""
    raw = ranged_io.read_range(path, offset, length)
    d = zlib.decompressobj(wbits=31)
    data = d.decompress(raw)
    if not d.eof:
        raise ValueError(f"truncated member at offset {offset}")
    if length is not None and d.unused_data != b"":
        raise ValueError(
            f"member at offset {offset} is shorter than the "
            f"recorded length {length}: the pointer is stale"
        )
    if kind == "warc":
        return _parse_warc_member(data)
    if kind == "arc":
        return _parse_arc_member(data)
    if kind == "ccarc":
        nl = data.index(b"\n")
        magic, key, length = data[:nl].split(b" ")
        if magic != MAGIC:
            raise ValueError(f"bad ccarc member at offset {offset}")
        return key.decode("utf-8"), data[nl + 1 : nl + 1 + int(length)]
    raise ValueError(f"unknown archive kind {kind!r}")


def warc_http_responses(warc: DataFrame) -> DataFrame:
    """Extract the HTTP payload from WARC response records -- the
    first processing step of every CommonCrawl consumer -- entirely
    with JVM Column expressions (no Python in the hot path).

    The block is an HTTP/1.x message: status line, headers, CRLF CRLF,
    body. Decoding with ISO-8859-1 is byte-lossless (every byte maps
    to one char and back), so splitting textually and re-encoding the
    body returns the EXACT body bytes even for binary payloads.

    Returns (target_uri, warc_date, status_code, http_content_type,
    body); non-response records and blocks without an HTTP header
    terminator are filtered out.
    """
    txt = F.decode(F.col("block"), "ISO-8859-1")
    out = (
        warc.filter(F.col("warc_type") == "response")
        .withColumn("_txt", txt)
        .withColumn("_sep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .filter(F.col("_sep") > 0)
    )
    head = F.expr("substring(_txt, 1, _sep - 1)")
    return out.select(
        "target_uri",
        "warc_date",
        F.regexp_extract(head, "^HTTP/[0-9.]+ ([0-9]{3})", 1)
        .cast("int")
        .alias("status_code"),
        # case-insensitive, first occurrence; value runs to end of line
        F.regexp_extract(
            head, "(?i)\\r\\ncontent-type:[ \\t]*([^\\r\\n]*)", 1
        ).alias("http_content_type"),
        F.regexp_extract(
            head, "(?i)\\r\\ntransfer-encoding:[ \\t]*([^\\r\\n]*)", 1
        ).alias("transfer_encoding"),
        F.encode(F.expr("substring(_txt, _sep + 4)"), "ISO-8859-1").alias(
            "body"
        ),
    )


def dechunk_bytes(body: bytes) -> bytes:
    """RFC 9112 section 7.1 chunked-transfer decode: hex size line
    (chunk extensions after ';' ignored), exact-size chunk + CRLF,
    0-size terminator, then optional trailer fields up to the final
    empty line. Raises ValueError naming the offset on malformed
    framing -- crawl archives are full of it."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError(f"chunked: missing size line at {pos}")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError(f"chunked: bad size at {pos}") from exc
        pos = nl + 2
        if size == 0:
            # trailer section: fields until the terminating CRLF
            while True:
                tnl = body.find(b"\r\n", pos)
                if tnl < 0:
                    raise ValueError(
                        f"chunked: unterminated trailers at {pos}"
                    )
                if tnl == pos:  # empty line = end of message
                    return bytes(out)
                pos = tnl + 2
        if pos + size + 2 > len(body):
            raise ValueError(f"chunked: truncated chunk at {pos}")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError(f"chunked: missing chunk CRLF at {pos}")
        pos += size + 2


def dechunk_http_bodies(responses: DataFrame) -> DataFrame:
    """Decode chunked transfer-encoding in extracted HTTP bodies.

    The chunked predicate evaluates JVM-side; the Arrow-batched
    kernel runs the real RFC 9112 decode ONLY where the flag is set
    (the second argument gates it row-by-row inside the batch, so the
    vectorized UDF never parses a non-chunked body even though Spark
    evaluates it unconditionally). At 100 TB the overwhelmingly
    common identity path stays pure-JVM-column cost plus one flag
    comparison per row.

    Input: warc_http_responses output. Output: same columns with
    `body` decoded and `was_chunked` (int) appended.
    """
    import pandas as pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _dechunk(bodies: pd.Series, flags: pd.Series) -> pd.Series:
        return pd.Series(
            [
                dechunk_bytes(bytes(b)) if f else (
                    bytes(b) if b is not None else None
                )
                for b, f in zip(bodies, flags)
            ]
        )

    is_chunked = F.lower(F.col("transfer_encoding")).contains("chunked")
    return responses.withColumn(
        "was_chunked", is_chunked.cast("int")
    ).withColumn(
        "body", _dechunk(F.col("body"), is_chunked)
    )


def read_arc_v1_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming ARC v1 source (util/StreamingArcFileReader.java): the
    same member-walk parse over archives as they LAND in a directory —
    `readStream` with the binaryFile file source, so each micro-batch
    processes newly-arrived archives exactly once (file-source
    checkpoint tracking), the production tail-the-crawl ingest shape.

    Identical row schema and parse kernel as read_arc_v1; compose with
    watermarks/aggregations downstream like any stream."""
    from pyspark.sql.types import TimestampType

    # the binaryFile source's fixed schema (streams require it stated)
    binary_file_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("pathGlobFilter", f"*{ARC_SUFFIX}")
        .load(path)
    )
    return files.select("path", "content").mapInPandas(
        _parse_arc_batches, ARC_READ_SCHEMA
    )


def cdx_index(warc_records: DataFrame) -> DataFrame:
    """CDX-style capture index over parsed WARC records -- the lookup
    artifact CommonCrawl publishes next to every crawl (the cc-index /
    wayback CDX convention): one line per capture, sorted by
    (SURT urlkey, 14-digit timestamp), carrying enough metadata to
    point-seek the record back out of the archive without scanning.

    Input is `read_warc` output; response records only. Columns:
    urlkey (SURT, functions/urls.surt_key_expr), timestamp
    (TIMESTAMP14 digits of WARC-Date), original (the URI as
    captured), mime (record content type), digest (sha256 hex of the
    block -- IA uses sha1-base32; sha256 is what both engines share),
    length + offset + filename (the gzip member's seek pointer:
    per the published CDXJ convention `length` is the COMPRESSED
    member size, so a ranged GET of [offset, offset+length) yields
    exactly one self-terminating gzip stream -- the reference's
    stream-pos delta, ArcFileReader.java:294).

    Scale shape: a map-only projection over the reader output plus
    one global sort -- the same shape as the reference's index-build
    step; at 100 TB the sort is the only shuffle and the result is
    range-partitioned by urlkey exactly like cluster.idx shards.
    """
    from ..functions import urls as urlfn

    resp = warc_records.filter(F.col("warc_type") == "response")
    return resp.select(
        urlfn.surt_key_expr(F.col("target_uri")).alias("urlkey"),
        F.regexp_replace(F.col("warc_date"), "[^0-9]", "").alias(
            "timestamp"
        ),
        F.col("target_uri").alias("original"),
        F.col("content_type").alias("mime"),
        F.sha2(F.col("block"), 256).alias("digest"),
        F.col("member_length").alias("length"),
        F.col("member_offset").alias("offset"),
        F.regexp_extract(F.col("archive_path"), "[^/]+$", 0).alias(
            "filename"
        ),
    ).orderBy("urlkey", "timestamp")


def write_cdx(idx: DataFrame, path: str, shards: int = 4) -> None:
    """Write a CDX index the way CommonCrawl serves it: `shards`
    RANGE-partitioned, internally sorted text shard files
    (cdx-NNNNN.txt, lines 'urlkey timestamp {json}') plus a tiny
    `cluster.idx` summary mapping each shard's FIRST key to its file
    -- the two-level layout that lets a lookup touch exactly one
    shard however many captures exist.

    Spark shape: repartitionByRange(urlkey, timestamp) IS the global
    sort's exchange -- it establishes the cross-shard order -- and the
    only exchange. A mapInPandas over its output writes one shard per
    partition: the task sorts its rows (the exchange does not order
    within a partition; the line breaks ties, so equal keys land in a
    fixed order), streams them to disk and yields the shard's first
    key, so the cluster.idx summary costs no extra scan. An empty
    partition writes no file and no cluster.idx line. The range
    bounds are sampled, so where the shards split can vary between
    runs; the concatenated shard lines cannot."""
    os.makedirs(path, exist_ok=True)
    line = F.concat_ws(
        " ",
        F.col("urlkey"),
        F.col("timestamp"),
        F.to_json(
            F.struct(
                "original", "mime", "digest", "length", "offset", "filename"
            )
        ),
    )
    ranged = idx.repartitionByRange(shards, "urlkey", "timestamp").select(
        F.spark_partition_id().alias("pid"), line.alias("line"),
        "urlkey", "timestamp",
    )

    def _write_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return  # empty partition: no shard file, no cluster.idx line
        pdf = pd.concat(frames).sort_values(["urlkey", "timestamp", "line"])
        pid = int(pdf["pid"].iloc[0])
        fname = f"cdx-{pid:05d}.txt"
        tmp = os.path.join(path, f".{fname}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(pdf["line"]) + "\n")
        os.replace(tmp, os.path.join(path, fname))
        first = pdf.iloc[0]
        yield pd.DataFrame(
            {
                "pid": [pid],
                "first_key": [f"{first['urlkey']} {first['timestamp']}"],
                "file": [fname],
            }
        )

    summary = sorted(
        ranged.mapInPandas(
            _write_shard, "pid int, first_key string, file string"
        ).collect(),  # bounded: one row per non-empty shard
        key=lambda r: r["pid"],
    )
    with open(os.path.join(path, "cluster.idx"), "w", encoding="utf-8") as fh:
        for r in summary:
            fh.write(f"{r['first_key']}\t{r['file']}\n")


def _seek_line_start(fh, pos: int) -> None:
    """Seek `fh` to the first line that starts at or after byte `pos`."""
    fh.seek(max(pos - 1, 0))
    if pos:
        fh.readline()  # the rest of the line holding byte pos - 1


def _seek_first_line(fh, key: bytes, size: int) -> None:
    """Seek a sorted CDX shard to its first line whose urlkey is >=
    `key` (to the end if none): a bisection over byte offsets, each
    probe reading the first whole line that starts at or after it."""
    lo, hi = 0, size
    while lo < hi:
        mid = (lo + hi) // 2
        _seek_line_start(fh, mid)
        line = fh.readline()
        if not line or line.split(b" ", 1)[0] >= key:
            hi = mid
        else:
            lo = mid + 1
    _seek_line_start(fh, lo)


def cdx_lookup(spark: SparkSession, path: str, url: str) -> DataFrame:
    """Point lookup against a write_cdx layout, served on the driver:
    bisect `cluster.idx` for the shard whose key range can contain the
    URL's SURT key, bisect that sorted shard file by byte offset, and
    read only the matching lines -- the reference's TFile/HDFSFileIndex
    seek. Returns the captures (urlkey, timestamp, meta_json) in
    timestamp order as a DataFrame over local rows: the lookup plans
    no Spark scan and runs no Spark job, and neither does collecting
    the result.

    A multi-capture urlkey can STRADDLE a range boundary (the range
    partitioner splits on (urlkey, timestamp)); per the zipnum
    convention, when a candidate shard's first urlkey EQUALS the
    search key the preceding shard is read too, walking back while
    that holds. Shard lines ascend by (urlkey, timestamp) across the
    walked shards, so the captures come out in timestamp order. A key
    that sorts before every shard opens no shard file."""
    from ..functions import urls as urlfn

    key = urlfn.surt_key(url)
    firsts: list[str] = []  # each shard's first urlkey
    files: list[str] = []
    with open(os.path.join(path, "cluster.idx"), encoding="utf-8") as fh:
        for ln in fh:
            first_key, fname = ln.rstrip("\n").split("\t")
            firsts.append(first_key.split(" ")[0])
            files.append(fname)
    hi = bisect.bisect_right(firsts, key) - 1  # last shard starting <= key
    lo = hi
    while lo > 0 and firsts[lo] == key:
        lo -= 1  # earlier captures of the same key end the prior shard
    bkey = key.encode("utf-8")
    cols: list[list[str]] = [[], [], []]
    for fname in files[max(lo, 0) : hi + 1]:
        shard = os.path.join(path, fname)
        with open(shard, "rb") as fh:
            _seek_first_line(fh, bkey, os.path.getsize(shard))
            for line in fh:
                parts = line.rstrip(b"\n").decode("utf-8").split(" ", 2)
                if parts[0] != key:
                    break
                for col, v in zip(cols, parts):
                    col.append(v)
    # an Arrow table, even an empty one, becomes a local relation:
    # no job, where a list (or an empty pandas frame) would run one
    names = ("urlkey", "timestamp", "meta_json")
    return spark.createDataFrame(
        pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    )


# ---------------------------------------------------------------------------
# WET / WAT derivation -- the two artifacts CommonCrawl publishes
# BESIDE every WARC segment (plain-text `conversion` records and JSON
# `metadata` records). A reference user's downstream jobs consume
# these, so the engine must be able to produce them from its own WARC
# output. Both derivations are one narrow projection over read_warc
# rows -- zero shuffles, and the text extraction is JVM Column
# expressions end to end (functions/html.html_text_expr).
# ---------------------------------------------------------------------------


def wet_records(warc: DataFrame) -> DataFrame:
    """WARC response records (HTTP blocks with HTML bodies) -> WET
    `conversion` records, ready for write_warc.

    Per the published WET layout: one record per page, block is the
    extracted visible text (UTF-8), Content-Type text/plain, and a
    WARC-Refers-To header naming the source response record. Record
    ids derive deterministically from the source id (the spec only
    requires uniqueness; a derived id keeps the artifact reproducible
    across engines and retries, unlike a fresh uuid).

    Non-response records and bodiless responses drop out -- exactly
    the rows WET omits. Each record also carries the
    WARC-Identified-Content-Language header the published WET format
    includes (stopword-vote language ID as a pure Column expression,
    functions/text.langid_scores_expr -- the cheap in-plan stand-in
    for the reference corpus's CLD2 pass).

    Body charset follows the published-WET precedence: the HTTP
    Content-Type charset parameter first (errors='replace' -- a
    lying header never aborts the job), else the detection ladder
    (functions/charset.decode_http_body, Arrow-batched: the ONE
    Python step here, because Spark 4's decode() throws
    MALFORMED_CHARACTER_CODING on dirty bytes and per-row charset
    fallback is not expressible as a Column). The text extraction
    itself stays pure Column expressions.
    """
    from ..functions.charset import decode_http_body_udf
    from ..functions.html import html_text_expr
    from ..functions.text import langid_scores_expr

    # byte-faithful split: ISO-8859-1 maps bytes 1:1, so re-encoding
    # the body substring recovers the exact payload bytes for the
    # charset-aware decode
    txt = F.decode(F.col("block"), "ISO-8859-1")
    declared = F.regexp_extract(
        F.expr("substring(_txt, 1, _sep - 1)"),
        "(?i)charset=([^;\\r\\n ]+)",
        1,
    )
    out = (
        warc.filter(F.col("warc_type") == "response")
        .withColumn("_txt", txt)
        .withColumn("_sep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .filter(F.col("_sep") > 0)
        .withColumn(
            "_body",
            decode_http_body_udf(
                F.encode(F.expr("substring(_txt, _sep + 4)"), "ISO-8859-1"),
                declared,
            ),
        )
        .withColumn("_text", html_text_expr(F.col("_body")))
        .filter(F.length("_text") > 0)
    )
    return out.select(
        F.lit("conversion").alias("warc_type"),
        F.regexp_replace(
            F.col("record_id"), "^<urn:uuid:", "<urn:uuid:wet-"
        ).alias("record_id"),
        F.col("target_uri"),
        F.col("warc_date"),
        F.lit("text/plain").alias("content_type"),
        F.array(
            F.struct(
                F.lit("WARC-Refers-To").alias("key"),
                F.col("record_id").alias("value"),
            ),
            F.struct(
                F.lit("WARC-Identified-Content-Language").alias("key"),
                langid_scores_expr(F.col("_text")).alias("value"),
            ),
        ).alias("headers"),
        F.encode(F.col("_text"), "UTF-8").alias("block"),
    )


WAT_ENVELOPE_SCHEMA = (
    "struct<"
    # the published WAT record's Container section: where in which
    # archive the described record lives (offsets are STRINGS in the
    # published files; Deflate-Length is the compressed member size
    # -- the same ranged-GET pointer the cc-index-table carries)
    "Container:struct<Filename:string,Compressed:boolean,"
    "Offset:string,`Gzip-Metadata`:struct<`Deflate-Length`:string>>,"
    "Envelope:struct<"
    "`WARC-Header-Metadata`:struct<`WARC-Target-URI`:string,"
    "`WARC-Date`:string,`WARC-Record-ID`:string>,"
    "`Payload-Metadata`:struct<"
    "`HTTP-Response-Metadata`:struct<"
    "`Response-Message`:struct<Status:int>,"
    "`Content-Type`:string,"
    "`HTML-Metadata`:struct<"
    "Head:struct<Title:string>,"
    "Links:array<struct<url:string,path:string,text:string>>"
    ">>>>>"
)


def wat_records(warc: DataFrame) -> DataFrame:
    """WARC response records -> WAT `metadata` records whose block is
    the published JSON envelope (Container pointer back into the
    source archive -- filename/offset/compressed length, the
    ranged-GET triple -- plus WARC header echo + HTTP status/type +
    HTML title and typed outlinks), ready for write_warc.

    The HTML parse reuses the ParserMapper-analog extractors
    (functions/html.py); link rows carry the WAT `path` convention
    ('A@/href', 'FRAME@/src', 'IFRAME@/src' -- frame and iframe stay
    distinct, per the published WAT files). JSON is rendered with
    to_json over a
    typed struct, so field order and quoting are engine-stable and a
    reader can from_json with WAT_ENVELOPE_SCHEMA and get the exact
    struct back.
    """
    from ..functions import html as htmlfn

    txt = F.decode(F.col("block"), "ISO-8859-1")
    out = (
        warc.filter(F.col("warc_type") == "response")
        .withColumn("_txt", txt)
        .withColumn("_sep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .filter(F.col("_sep") > 0)
        .withColumn("_head", F.expr("substring(_txt, 1, _sep - 1)"))
        .withColumn("_body", F.expr("substring(_txt, _sep + 4)"))
    )
    status = F.regexp_extract(
        F.col("_head"), "^HTTP/[0-9.]+ ([0-9]{3})", 1
    ).cast("int")
    http_ct = F.regexp_extract(
        F.col("_head"), "(?i)\\r\\ncontent-type:[ \\t]*([^\\r\\n]*)", 1
    )
    links = F.transform(
        htmlfn.extract_links_tiered_udf(F.col("_body")),
        lambda l: F.struct(
            l["url"].alias("url"),
            F.concat(
                F.upper(l["link_type"]),
                F.when(l["link_type"] == "a", F.lit("@/href")).otherwise(
                    F.lit("@/src")
                ),
            ).alias("path"),
            l["anchor"].alias("text"),
        ),
    )
    envelope = F.struct(
        F.struct(
            F.regexp_extract(F.col("archive_path"), "[^/]+$", 0).alias(
                "Filename"
            ),
            F.lit(True).alias("Compressed"),
            F.col("member_offset").cast("string").alias("Offset"),
            F.struct(
                F.col("member_length").cast("string").alias(
                    "Deflate-Length"
                )
            ).alias("Gzip-Metadata"),
        ).alias("Container"),
        F.struct(
            F.struct(
                F.col("target_uri").alias("WARC-Target-URI"),
                F.col("warc_date").alias("WARC-Date"),
                F.col("record_id").alias("WARC-Record-ID"),
            ).alias("WARC-Header-Metadata"),
            F.struct(
                F.struct(
                    F.struct(status.alias("Status")).alias(
                        "Response-Message"
                    ),
                    http_ct.alias("Content-Type"),
                    F.struct(
                        F.struct(
                            htmlfn.extract_title_udf(F.col("_body")).alias(
                                "Title"
                            )
                        ).alias("Head"),
                        links.alias("Links"),
                    ).alias("HTML-Metadata"),
                ).alias("HTTP-Response-Metadata")
            ).alias("Payload-Metadata"),
        ).alias("Envelope")
    )
    return out.select(
        F.lit("metadata").alias("warc_type"),
        F.regexp_replace(
            F.col("record_id"), "^<urn:uuid:", "<urn:uuid:wat-"
        ).alias("record_id"),
        F.col("target_uri"),
        F.col("warc_date"),
        F.lit("application/json").alias("content_type"),
        F.array(
            F.struct(
                F.lit("WARC-Refers-To").alias("key"),
                F.col("record_id").alias("value"),
            )
        ).alias("headers"),
        F.encode(F.to_json(envelope), "UTF-8").alias("block"),
    )


# ---------------------------------------------------------------------------
# Columnar URL index table -- the parquet "cc-index-table" CommonCrawl
# publishes beside the zipnum CDX (this module's write_cdx/cdx_lookup):
# one typed row per fetched record with the URL decomposition, host and
# registered-domain rollup keys, fetch metadata, and the (filename,
# offset, length) pointer for random access back into the archive.
# It is the modern SQL access path to the crawl (Athena/Spark users
# query it directly), so the engine must be able to produce it from
# its own WARC output. Schema follows the published table's column
# naming (url_surtkey, url_host_*, fetch_*, content_*, warc_*).
# ---------------------------------------------------------------------------


def ccindex_table(warc: DataFrame, crawl: str,
                  subset: str = "warc") -> DataFrame:
    """WARC response records -> columnar index rows. Pure Column
    expressions end to end: the HTTP head split is the same
    discipline as wat_records, URL decomposition is regexp over the
    target URI, and the host rollup keys reuse the SURT / reversed /
    eTLD+1 expressions from functions/urls (each applied once per
    row, codegen-compact blob probes)."""
    from ..functions import urls as urlfn

    txt = F.decode(F.col("block"), "ISO-8859-1")
    rec = (
        warc.filter(F.col("warc_type") == "response")
        .withColumn("_txt", txt)
        .withColumn("_sep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .filter(F.col("_sep") > 0)
        .withColumn("_head", F.expr("substring(_txt, 1, _sep - 1)"))
    )
    low = F.lower(F.col("target_uri"))
    host = F.regexp_extract(low, r"^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1)
    http_ct = F.regexp_extract(
        F.col("_head"), "(?i)\\r\\ncontent-type:[ \\t]*([^\\r\\n]*)", 1
    )
    return rec.select(
        urlfn.surt_key_expr(F.col("target_uri")).alias("url_surtkey"),
        F.col("target_uri").alias("url"),
        host.alias("url_host_name"),
        urlfn.reverse_host_expr(host).alias("url_host_reversed"),
        urlfn.root_domain_expr(host).alias(
            "url_host_registered_domain"
        ),
        F.regexp_extract(host, r"([^.]+)$", 1).alias("url_host_tld"),
        F.regexp_extract(low, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
        .alias("url_path"),
        F.regexp_extract(low, r"\?([^#]*)", 1).alias("url_query"),
        # TIMESTAMP_NTZ carrying the UTC wall time: WARC-Date is an
        # explicit-zone instant, and an LTZ column would render
        # shifted under any non-UTC session (the same tz-independence
        # discipline as sources/tables' loader normalization)
        F.to_timestamp_ntz(
            F.regexp_replace(
                F.replace(F.col("warc_date"), F.lit("T"), F.lit(" ")),
                "Z$",
                "",
            )
        ).alias("fetch_time"),
        F.regexp_extract(F.col("_head"), "^HTTP/[0-9.]+ ([0-9]{3})", 1)
        .cast("int")
        .alias("fetch_status"),
        F.regexp_extract(http_ct, "^([^;]*[^; ])", 1).alias(
            "content_mime_type"
        ),
        F.regexp_extract(http_ct, "(?i)charset=([^; ]+)", 1).alias(
            "content_charset"
        ),
        F.col("record_id").alias("warc_record_id"),
        F.col("archive_path").alias("warc_filename"),
        F.col("member_offset").alias("warc_record_offset"),
        # The published cc-index-table's warc_record_length is the
        # COMPRESSED gzip-member size (what a byte-range fetch of
        # [offset, offset+length) needs), not the WARC Content-Length;
        # the reference computes the same stream-pos delta
        # (ArcFileReader.java:294).
        F.col("member_length").alias("warc_record_length"),
        F.lit(crawl).alias("crawl"),
        F.lit(subset).alias("subset"),
    )


def write_ccindex(idx: DataFrame, path: str) -> None:
    """Write the index table the way the published one is laid out:
    hive-partitioned by (crawl, subset) -- so a reader's
    `WHERE crawl = ...` prunes whole directories before any IO --
    and sorted by url_surtkey within files, which gives parquet
    min/max page statistics the same pruning power the zipnum
    binary search has (a host's URLs land in a contiguous run of
    row groups). At 100 TB each (crawl, subset) partition holds
    many files; the range repartition keeps them non-overlapping in
    surtkey so a point lookup touches one file."""
    (
        idx.repartitionByRange(
            F.col("crawl"), F.col("subset"), F.col("url_surtkey")
        )
        .sortWithinPartitions("crawl", "subset", "url_surtkey")
        .write.mode("overwrite")
        .partitionBy("crawl", "subset")
        .parquet(path)
    )


def read_ccindex(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned index table back; partition columns
    (crawl, subset) come from directory names, so filters on them
    never touch parquet footers."""
    return spark.read.parquet(path)


def revisit_dedup(warc: DataFrame) -> DataFrame:
    """Payload-digest dedup at archive grain (ISO 28500 `revisit`
    records, profile "identical payload digest"): the FIRST response
    carrying a given payload digest stays a full `response`; every
    later response with the same digest becomes a `revisit` record
    that keeps its own URI/date/headers but drops the payload and
    points at the original via WARC-Refers-To + WARC-Payload-Digest.
    This is how real web archives avoid storing the same bytes once
    per mirror/fetch -- at crawl scale the payload column is most of
    the data, so the dedup happens BEFORE the sink.

    "First" = min (warc_date, record_id) per digest -- a total order
    both engines can compute, so the kept record is deterministic
    under any partitioning (wall-clock arrival order is not).
    Non-response records pass through untouched.

    The digest covers the HTTP PAYLOAD only (bytes after the first
    CRLFCRLF of the block), per WARC-Payload-Digest semantics: real
    re-fetches of identical content differ in response headers (Date,
    Set-Cookie, ...), so a whole-block digest would almost never fire.
    A block with no header terminator (non-HTTP content) digests
    whole, its own payload by definition.

    Shape: one md5 projection + ONE window over the digest key (the
    same partial-shuffle grain as a groupBy on digest); the payload
    drop is a map-side conditional. No joins.
    """
    from pyspark.sql import Window

    responses = warc.filter(F.col("warc_type") == "response")
    others = warc.filter(F.col("warc_type") != "response")
    w = Window.partitionBy("_digest").orderBy("warc_date", "record_id")
    dd = (
        responses
        # ISO-8859-1 is byte-transparent, so the substring/encode
        # round trip returns the EXACT payload bytes (the same split
        # discipline as wet_records/wat_records)
        .withColumn("_txt", F.decode(F.col("block"), "ISO-8859-1"))
        .withColumn("_hsep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .withColumn(
            "_digest",
            F.md5(
                F.when(
                    F.col("_hsep") > 0,
                    F.encode(
                        F.expr("substring(_txt, _hsep + 4)"), "ISO-8859-1"
                    ),
                ).otherwise(F.col("block"))
            ),
        )
        .withColumn("_rank", F.row_number().over(w))
        .withColumn("_orig", F.first("record_id").over(w))
    )
    is_dup = F.col("_rank") > 1
    extra = F.array(
        F.struct(
            F.lit("WARC-Refers-To").alias("key"),
            F.col("_orig").alias("value"),
        ),
        F.struct(
            F.lit("WARC-Payload-Digest").alias("key"),
            F.concat(F.lit("md5:"), F.col("_digest")).alias("value"),
        ),
        F.struct(
            F.lit("WARC-Profile").alias("key"),
            F.lit(
                "http://netpreserve.org/warc/1.0/revisit/"
                "identical-payload-digest"
            ).alias("value"),
        ),
    )
    deduped = dd.select(
        F.when(is_dup, F.lit("revisit"))
        .otherwise(F.col("warc_type"))
        .alias("warc_type"),
        "record_id",
        "target_uri",
        "warc_date",
        F.when(is_dup, F.lit("message/http")).otherwise(
            F.col("content_type")
        ).alias("content_type"),
        F.when(
            is_dup,
            F.concat(
                F.coalesce(
                    F.col("headers"),
                    F.array().cast(
                        "array<struct<key:string,value:string>>"
                    ),
                ),
                extra,
            ),
        )
        .otherwise(F.col("headers"))
        .alias("headers"),
        F.when(is_dup, F.lit(b"")).otherwise(F.col("block")).alias(
            "block"
        ),
    )
    return deduped.unionByName(
        others.select(
            "warc_type", "record_id", "target_uri", "warc_date",
            "content_type", "headers", "block",
        )
    )


def fetch_plan(
    pointers: DataFrame, merge_gap: int = 0
) -> DataFrame:
    """Coalesce record pointers into bulk byte-range requests -- the
    extraction planner a re-processing job runs against an archive
    store: instead of one ranged GET per record, adjacent (or
    near-adjacent, gap <= `merge_gap` bytes) members in the same
    archive merge into one request. This is the batch form of the
    reference's seek-read access path (ArcFileReader point reads):
    object stores charge per request and per first-byte latency, so
    fetching a million records as contiguous runs instead of a
    million GETs is the difference between hours and minutes.

    Input: (filename, offset, length) -- exactly the pointer columns
    cdx_index / ccindex_table emit (compressed member sizes, so
    ranges are byte-exact). Output one row per merged range:
    (filename, range_start, range_end, n_records, record_bytes,
    wasted_bytes) where range_end is exclusive, record_bytes is the
    sum of member lengths inside the range and wasted_bytes the gap
    filler fetched but not used (0 unless merge_gap > 0 allowed it).

    Scale shape: one window PER FILENAME (archives are rotation-
    capped, so a filename's pointer count is bounded by
    rotate_bytes / min-member-size -- thousands of parallel windows
    at 100 TB, never a global sort) and one groupBy on the derived
    range id. Pure integer arithmetic: the plan is engine-exact and
    ORDER-INDEPENDENT, so it oracle-checks bit-for-bit.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("filename").orderBy("offset", "length")
    prev_end = F.lag(F.col("offset") + F.col("length")).over(w)
    starts_new = F.when(
        prev_end.isNull()
        | (F.col("offset") > prev_end + F.lit(merge_gap)),
        1,
    ).otherwise(0)
    run = (
        Window.partitionBy("filename")
        .orderBy("offset", "length")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = pointers.select(
        "filename", "offset", "length",
        F.sum(starts_new).over(run).alias("_range"),
    )
    return (
        ranged.groupBy("filename", "_range")
        .agg(
            F.min("offset").alias("range_start"),
            F.max(F.col("offset") + F.col("length")).alias("range_end"),
            F.count(F.lit(1)).alias("n_records"),
            F.sum("length").alias("record_bytes"),
        )
        .select(
            "filename",
            "range_start",
            "range_end",
            "n_records",
            "record_bytes",
            (
                F.col("range_end") - F.col("range_start")
                - F.col("record_bytes")
            ).alias("wasted_bytes"),
        )
    )


def read_warc_ranges(
    spark: SparkSession,
    plan: DataFrame,
    base_dir: str,
    extra_schemes: dict | None = None,
) -> DataFrame:
    """Execute a fetch_plan: read each merged byte range as ONE
    slice, walk its gzip members, and parse them as WARC records --
    the distributed form of the reference's seek-read access path
    (ArcFileReader point reads), completing index -> plan ->
    extraction. Against an object store each row becomes one ranged
    GET; locally it is a seek + bounded read. Only the planned bytes
    are ever fetched -- a selective extraction over a 100 TB archive
    store reads exactly the records the index query selected, not
    the archives that contain them.

    `plan` is fetch_plan output (filename, range_start, range_end,
    n_records); `base_dir` locates the archive files. Each range is
    verified as it is consumed: the walk must yield exactly
    n_records whole members ending at range_end, so a stale index
    (rewritten archive) fails loudly instead of yielding trimmed
    records. Output schema == read_warc's, with member offsets
    rebased to the archive file, so every downstream consumer
    (wet/wat/ccindex/http split) composes unchanged.

    Scale shape: one task batch per plan partition, each row an
    independent bounded read -- no shuffle, no full-archive scan;
    parallelism is the plan's row count (repartition the plan for
    more).

    `extra_schemes` maps URI scheme -> positioned reader
    (`ranged_io.register_scheme` signature); the dict rides the
    serialized kernel, so custom store clients dispatch on executors
    (where driver-side registration cannot reach). Long-lived
    deployments can use SPARK_GRAFT_RANGED_IO instead (read at
    Python-worker start).
    """

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for s, fn in (extra_schemes or {}).items():
            ranged_io.register_scheme(s, fn)
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in WARC_READ_SCHEMA.fields
            }
            for fname, start, end, want in zip(
                pdf["filename"], pdf["range_start"],
                pdf["range_end"], pdf["n_records"],
            ):
                # index filename columns arrive as basenames, bare
                # paths, file: URIs (binaryFile's archive_path), or
                # object-store URIs -- normalize against base_dir and
                # read the slice through the positioned-read seam
                # (one ranged GET per plan row off-local)
                path = ranged_io.resolve_archive_path(fname, base_dir)
                blob = ranged_io.read_range(
                    path, int(start), int(end) - int(start)
                )
                pos = 0
                got = 0
                while pos < len(blob):
                    d = zlib.decompressobj(wbits=31)
                    data = d.decompress(blob[pos:])
                    if not d.eof:
                        raise ValueError(
                            f"truncated member in {fname} range "
                            f"[{start}, {end}) at +{pos}"
                        )
                    (wt, rid, uri, date, ctype, clen, hdrs, block) = (
                        _parse_warc_member(data)
                    )
                    nxt = len(blob) - len(d.unused_data)
                    out["warc_type"].append(wt)
                    out["record_id"].append(rid)
                    out["target_uri"].append(uri)
                    out["warc_date"].append(date)
                    out["content_type"].append(ctype)
                    out["content_length"].append(clen)
                    out["headers"].append(hdrs)
                    out["block"].append(block)
                    out["archive_path"].append(path)
                    out["member_offset"].append(int(start) + pos)
                    out["member_length"].append(nxt - pos)
                    pos = nxt
                    got += 1
                if got != int(want):
                    raise ValueError(
                        f"stale fetch plan for {fname} range "
                        f"[{start}, {end}): walked {got} members, "
                        f"index said {int(want)}"
                    )
            yield pd.DataFrame(out)

    return plan.select(
        "filename", "range_start", "range_end", "n_records"
    ).mapInPandas(_read, WARC_READ_SCHEMA)
