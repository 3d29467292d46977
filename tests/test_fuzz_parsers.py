"""Mutation-fuzz contract for every binary parser entry point.

A crawl corpus delivers truncated, bit-flipped and adversarial bytes
(reference analog: the crawler's ParserMapper runs unattended over
arbitrary crawled content, reference src/mapred/ec2/parser).  The
contract: a parser handed corrupt input returns a value (None
included) or raises a NAMED error -- ValueError or
NotImplementedError -- and never leaks an implementation exception
(IndexError, struct.error, zlib.error, KeyError, TypeError, ...)
or hangs.

The target registry and mutation engine live in tools/fuzz_targets.py
and tools/fuzz_parsers.py so the same corpus can be driven standalone:

    python tools/fuzz_parsers.py --n 1000

FUZZ_N tunes the per-format mutation count (default 1000, matching
the standalone evidence runs).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from tools.fuzz_parsers import fuzz_format  # noqa: E402
from tools.fuzz_targets import TARGETS  # noqa: E402

N = int(os.environ.get("FUZZ_N", "1000"))


@pytest.mark.parametrize("fmt", sorted(TARGETS))
def test_parser_contract_under_mutation(fmt):
    findings = fuzz_format(fmt, n=N, rng_seed=0, timeout=10.0)
    assert not findings, (
        f"{fmt}: {len(findings)} contract violation(s); first: "
        f"mutation {findings[0][0]} of seed {findings[0][1]} -> "
        f"{findings[0][2]}; repro: python tools/fuzz_parsers.py "
        f"--formats {fmt} --n {findings[0][0] + 1}"
    )


def test_clean_seeds_parse_without_error():
    """The unmutated seeds must parse -- guards must not have broken
    the happy path."""
    for fmt, (seeds_fn, parse) in TARGETS.items():
        for i, blob in enumerate(seeds_fn()):
            try:
                parse(blob)
            except Exception as exc:  # noqa: BLE001
                pytest.fail(f"{fmt} seed {i} failed clean parse: {exc!r}")


def test_guard_passes_named_errors_and_converts_leaks():
    from commoncrawl_crawler_spark.operators.parseguard import guard

    @guard("demo")
    def boom_index(b):
        return [1, 2][len(b)]

    @guard("demo")
    def boom_value(b):
        raise ValueError("named")

    @guard("demo")
    def boom_todo(b):
        raise NotImplementedError("boundary")

    @guard("demo")
    def boom_type(b):
        raise TypeError("programming error")

    with pytest.raises(ValueError, match="corrupt demo: IndexError"):
        boom_index(b"xxxxx")
    with pytest.raises(ValueError, match="named"):
        boom_value(b"")
    with pytest.raises(NotImplementedError):
        boom_todo(b"")
    # everything outside the corruption set still propagates
    with pytest.raises(TypeError):
        boom_type(b"")


def test_corruption_bounds_are_named_errors():
    """The allocation bounds added for stomped size fields raise
    ValueError, not MemoryError/hang."""
    from commoncrawl_crawler_spark.operators import multimodal as mm

    # GIF LZW: a stomped min-code-size must not size a 2^255 table
    with pytest.raises(ValueError, match="LZW min code size"):
        mm._gif_lzw_decode(b"\x00" * 8, 255)


def test_every_byte_parser_is_fuzz_covered():
    """Registry completeness: every byte-level parse/decode/scan
    entry point in the parser modules must be fuzzed -- directly, or
    through a registered composite named here.  A new parser that is
    neither fails this test until it joins tools/fuzz_targets.py."""
    import re

    MODULES = [
        "operators/multimodal.py",
        "sources/packfiles.py",
        "sources/archive.py", "functions/dnswire.py",
        "functions/ricecoding.py",
    ]
    # parsers reached through a registered composite target (the
    # composite's name on the right), or inner helpers whose public
    # caller is registered
    VIA_COMPOSITE = {
        "decode_name": "dns_wire",
    }
    # direct registrations whose target name differs from the
    # function name
    DIRECT = {
        "parse_ppm_bytes": "ppm", "parse_png_bytes": "png",
        "parse_jpeg_gray": "jpeg_gray",
        "parse_jpeg_color": "jpeg_color",
        "parse_jpeg_gray_progressive": "jpeg_gray_progressive",
        "parse_jpeg_color_progressive": "jpeg_color_progressive",
        "parse_gif_bytes": "gif", "parse_bmp_bytes": "bmp",
        "parse_tar_members": "tar", "parse_zip_members": "zip",
        "parse_response": "dns_wire",
    }
    pat = re.compile(
        r"^def ((?:parse|decode|scan)_\w+)\(\s*\w+\s*:\s*bytes", re.M
    )
    pkg = REPO / "commoncrawl_crawler_spark"
    uncovered = []
    for mod in MODULES:
        text = (pkg / mod).read_text()
        for fn in pat.findall(text):
            target = DIRECT.get(fn) or VIA_COMPOSITE.get(fn)
            if target is None or target not in TARGETS:
                uncovered.append(f"{mod}:{fn} -> {target}")
    assert not uncovered, (
        "byte-level parsers without a fuzz target (register in "
        f"tools/fuzz_targets.py): {uncovered}"
    )
