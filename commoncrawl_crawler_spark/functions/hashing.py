"""Hashing / similarity-sketch scalar functions (SURVEY.md 2.8, 2.9).

Reference capabilities re-implemented from published algorithms:
- SimHash (Charikar 2002, "Similarity estimation techniques from
  rounding algorithms") -- the reference computes a 64-bit simhash
  over 4-char shingles (util/SimHash.java:52-134).
- Hamming distance = popcount(xor) -- kept as a Column expression
  (`bit_count` is JVM-side; util/SimHash.java's hammingDistance).

MinHash signatures (Broder 1997) are computed in the dedup operator
(`operators/dedup.md5_minhash_signatures`), not here.

Kernels are numpy-vectorized inside Arrow-batched pandas UDFs: the
per-row Python cost is amortized over whole record batches, the
sanctioned pattern when built-ins can't express the computation.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

SHINGLE_SIZE = 4  # 4-char shingles, matching util/SimHash.java:57

_BIT_POS = np.arange(64, dtype=np.uint64)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele et al. 2014) --
    deterministic, process-independent 64-bit mixing. uint64
    arithmetic wraps mod 2^64, which is exactly what we want."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _shingle_ids(text: str, shingle: int = SHINGLE_SIZE) -> np.ndarray:
    """All character-shingle hashes of one document as uint64[n].

    One numpy pass: UTF-8 bytes -> sliding windows (stride view, no
    copy) -> window bytes packed into a uint64 -> splitmix64. ~1000x
    the throughput of per-shingle hashlib calls.
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    if len(b) < shingle:
        win = b[None, :]
    else:
        win = np.lib.stride_tricks.sliding_window_view(b, shingle)
    packed = np.zeros(len(win), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(win.shape[1]):
            packed = (packed << np.uint64(8)) | win[:, i].astype(np.uint64)
    return _splitmix64(packed)


def simhash64(text: str | None, shingle: int = SHINGLE_SIZE) -> int | None:
    """64-bit SimHash over character shingles. Signed int64 output
    (Spark LongType). Fully vectorized: bit matrix [n, 64] -> column
    sums -> majority vote."""
    if text is None:
        return None
    ids = _shingle_ids(text, shingle)
    if len(ids) == 0:
        return 0
    bits = (ids[:, None] >> _BIT_POS) & np.uint64(1)  # [n, 64]
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(ids)
    fp = int(((votes > 0).astype(np.uint64) << _BIT_POS).sum(dtype=np.uint64))
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# lazy UDF construction: pandas_udf resolves its DDL type against the
# active session, which may not exist at import time


@lru_cache(maxsize=None)
def _simhash64_udf():
    @pandas_udf("long")
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(simhash64).astype("Int64")

    return _udf


def simhash64_udf(col):
    return _simhash64_udf()(col)


def hamming_distance_expr(a: Column, b: Column) -> Column:
    """popcount(a XOR b) -- stays in codegen (Spark >= 3.3
    bit_count). util/SimHash.java hammingDistance capability."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands_expr(col: Column, n_blocks: int = 6, choose: int = 3) -> Column:
    """LSH band keys for simhash blocking (SURVEY.md 2.9).

    The reference splits the 64-bit simhash into 6 blocks and emits
    every C(6,3)=20 block-combination as a candidate key
    (deduper/Stage1Mapper.java:187-207, DeduperUtils.java:201,271):
    two hashes within hamming distance k<=3 share at least one
    combination of (6-3)=3 *matching* blocks. Returns
    array<struct<pattern:int, key:long>> to explode + groupBy.

    Pure Column implementation: shiftrightunsigned + masking, no UDF.
    Block width ~ 64/6; we use 11-bit blocks x 5 + 9-bit block 5.
    """
    from itertools import combinations

    widths = [11, 11, 11, 11, 11, 9]
    offsets = [0, 11, 22, 33, 44, 55]

    def block(i: int) -> Column:
        mask = (1 << widths[i]) - 1
        return F.shiftrightunsigned(col, offsets[i]).bitwiseAND(F.lit(mask))

    entries = []
    for pattern_idx, combo in enumerate(combinations(range(n_blocks), choose)):
        # pack the selected blocks into one long key, tagged by the
        # combination index so different patterns never collide
        key: Column = F.lit(0).cast("long")
        shift = 0
        for i in combo:
            key = key.bitwiseOR(F.shiftleft(block(i), shift))
            shift += widths[i]
        entries.append(
            F.struct(
                F.lit(pattern_idx).alias("pattern"),
                key.alias("key"),
            )
        )
    return F.array(*entries)
