"""DNS wire format (RFC 1035): real message parse with name
compression.

The reference runs a DNS resolution subsystem whose outputs feed the
iptohost joins (SURVEY §2.1 text imports of DNS logs;
iptohost/QuantcastIPListStep.java consumes resolved addresses). This
module parses the actual WIRE FORMAT a resolver logs or a pcap
capture stores -- header, question, answer records, and the 0xC0
compression pointers that make naive substring parsing wrong --
so resolution data ingests from its native binary form, not just
from pre-digested text logs.

Spark shape: per-message kernel in Arrow batches, narrow; one
message is a few hundred bytes, so this is pure CPU parse with zero
shuffle -- the iptohost join downstream is the first exchange.
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

from ..operators.parseguard import guard
from ..sources.packfiles import _synthesize_media

TYPE_A = 1
TYPE_NS = 2
TYPE_CNAME = 5


def encode_name(name: str) -> bytes:
    out = bytearray()
    for label in name.rstrip(".").split("."):
        lb = label.encode("ascii")
        if not 0 < len(lb) < 64:
            raise ValueError(f"bad label {label!r}")
        out.append(len(lb))
        out += lb
    out.append(0)
    return bytes(out)


@guard("dns-wire")
def decode_name(msg: bytes, pos: int) -> tuple[str, int]:
    """Label walk with compression-pointer following (RFC 1035
    4.1.4). Returns (name, next_pos). A pointer loop or an
    out-of-range jump raises instead of spinning."""
    labels = []
    jumps = 0
    next_pos = None
    while True:
        if pos >= len(msg):
            raise ValueError("truncated name")
        ln = msg[pos]
        if ln & 0xC0 == 0xC0:  # compression pointer
            if pos + 2 > len(msg):
                raise ValueError("truncated compression pointer")
            target = ((ln & 0x3F) << 8) | msg[pos + 1]
            if next_pos is None:
                next_pos = pos + 2
            if target >= pos:
                raise ValueError("forward compression pointer")
            pos = target
            jumps += 1
            if jumps > 63:
                raise ValueError("compression pointer loop")
        elif ln == 0:
            if next_pos is None:
                next_pos = pos + 1
            return ".".join(labels), next_pos
        elif ln < 64:
            if pos + 1 + ln > len(msg):
                raise ValueError("truncated label")
            labels.append(msg[pos + 1 : pos + 1 + ln].decode("ascii"))
            pos += 1 + ln
        else:
            raise ValueError(f"reserved label length {ln}")


def build_response(
    qname: str,
    answers: list[tuple[str, int, int, bytes]],  # (name,type,ttl,rdata)
    txn_id: int = 0x1234,
) -> bytes:
    """Build a DNS response whose answer names COMPRESS against the
    question name (pointer to offset 12) when they match -- the way
    real resolvers encode, so the parser's pointer path is exercised
    by construction."""
    out = bytearray()
    out += struct.pack(">HHHHHH", txn_id, 0x8180, 1, len(answers), 0, 0)
    qname_at = len(out)  # == 12
    out += encode_name(qname) + struct.pack(">HH", TYPE_A, 1)
    for name, rtype, ttl, rdata in answers:
        if name == qname:
            out += struct.pack(">H", 0xC000 | qname_at)
        else:
            out += encode_name(name)
        out += struct.pack(">HHIH", rtype, 1, ttl, len(rdata)) + rdata
    return bytes(out)


@guard("dns-wire")
def parse_response(msg: bytes) -> dict:
    """Parse header + question + answers. A/CNAME/NS rdata decode;
    other types pass through as raw lengths."""
    if len(msg) < 12:
        raise ValueError("truncated DNS header")
    txn_id, flags, qd, an, ns, ar = struct.unpack(">HHHHHH", msg[:12])
    if not flags & 0x8000:
        raise ValueError("not a response (QR=0)")
    pos = 12
    questions = []
    for _ in range(qd):
        name, pos = decode_name(msg, pos)
        qtype, qclass = struct.unpack(">HH", msg[pos : pos + 4])
        pos += 4
        questions.append({"name": name, "type": qtype})
    answers = []
    for _ in range(an):
        name, pos = decode_name(msg, pos)
        rtype, rclass, ttl, rdlen = struct.unpack(
            ">HHIH", msg[pos : pos + 10]
        )
        pos += 10
        rdata = msg[pos : pos + rdlen]
        if len(rdata) != rdlen:
            raise ValueError("truncated rdata")
        rec = {"name": name, "type": rtype, "ttl": ttl}
        if rtype == TYPE_A:
            if rdlen != 4:
                raise ValueError("A record rdata must be 4 bytes")
            rec["address"] = int.from_bytes(rdata, "big")
        elif rtype in (TYPE_CNAME, TYPE_NS):
            rec["target"], _ = decode_name(msg, pos)
        rec["rdlen"] = rdlen
        pos += rdlen
        answers.append(rec)
    return {
        "txn_id": txn_id,
        "rcode": flags & 0xF,
        "questions": questions,
        "answers": answers,
    }


def _dns_params(mid: int) -> tuple[str, int, int]:
    """(qname, n_cnames, ttl_base) -- oracle-mirrored."""
    return f"h{mid % 50}.example.com", mid % 3, 60 + mid % 120


def _dns_blob(mid: int) -> bytes:
    qname, n_cnames, ttl = _dns_params(mid)
    answers = []
    name = qname
    for c in range(n_cnames):
        target = f"cdn{c}.{qname}"
        answers.append(
            (name, TYPE_CNAME, ttl + c, encode_name(target))
        )
        name = target
    ip = (10 << 24) | (mid % 65536)
    answers.append(
        (name, TYPE_A, ttl + n_cnames, ip.to_bytes(4, "big"))
    )
    return build_response(qname, answers, txn_id=mid % 65536)


def synthesize_dns(documents: DataFrame) -> DataFrame:
    return _synthesize_media(documents, _dns_blob)


DNS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("qname", StringType()),
        StructField("n_answers", IntegerType()),
        StructField("cname_hops", IntegerType()),
        StructField("a_address", LongType()),
        StructField("min_ttl", LongType()),
    ]
)


def dns_resolutions(media: DataFrame) -> DataFrame:
    """Per-message resolution row: question name, CNAME chain length
    followed through compression pointers, the final A address as an
    integer (the iptohost join key), and the cache-relevant min TTL."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in DNS_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                r = parse_response(bytes(blob))
                a_recs = [x for x in r["answers"] if x["type"] == TYPE_A]
                rows["media_id"].append(int(mid))
                rows["qname"].append(r["questions"][0]["name"])
                rows["n_answers"].append(len(r["answers"]))
                rows["cname_hops"].append(
                    sum(1 for x in r["answers"] if x["type"] == TYPE_CNAME)
                )
                rows["a_address"].append(
                    a_recs[0]["address"] if a_recs else 0
                )
                rows["min_ttl"].append(
                    min(x["ttl"] for x in r["answers"])
                    if r["answers"]
                    else 0
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _parse, DNS_SCHEMA
    )
