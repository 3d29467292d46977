"""Property-based tests (hypothesis) over the pure scalar kernels.

The reference's embedded asserts (URLUtils.java table, DeduperUtils
main()) pin examples; these pin *invariants* over generated inputs.
All kernels under test are pure Python/numpy, so the suite runs
without a Spark session and stays fast.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from commoncrawl_crawler_spark.functions import hashing, urls
from commoncrawl_crawler_spark.operators import bloom
from commoncrawl_crawler_spark.sources.archive import _iter_members, _member_bytes

SETTLE = settings(max_examples=100, derandomize=True, deadline=None)

host_labels = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=8)
    .filter(lambda s: not s.startswith("-") and not s.endswith("-")),
    min_size=1,
    max_size=4,
)


@SETTLE
@given(
    labels=host_labels,
    path=st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789/_-.",
        max_size=20,
    ),
)
def test_canonicalize_idempotent(labels, path):
    url = "HTTP://" + ".".join(labels) + "/" + path
    once = urls.canonicalize_url(url)
    if once is not None:
        assert urls.canonicalize_url(once) == once  # fixpoint
        assert "#" not in once
        host = once.split("://", 1)[1].split("/", 1)[0]
        assert host == host.lower()


@SETTLE
@given(labels=host_labels)
def test_root_domain_is_suffix_with_bounded_labels(labels):
    host = ".".join(labels)
    root = urls.root_domain(host)
    assert root is not None
    assert host.endswith(root)
    # root = public suffix + exactly one extra label (or the whole
    # host when the host IS a suffix or shorter)
    from commoncrawl_crawler_spark.functions import psl

    root_labels = root.split(".")
    sl = psl.suffix_label_count(root_labels)
    assert len(root_labels) <= sl + 1


@SETTLE
@given(text=st.text(max_size=500))
def test_simhash_deterministic_int64(text):
    a = hashing.simhash64(text)
    assert a == hashing.simhash64(text)
    assert -(1 << 63) <= a < (1 << 63)


@SETTLE
@given(text=st.text(min_size=4, max_size=300))
def test_shingle_ids_count(text):
    n_bytes = len(text.encode("utf-8"))
    ids = hashing._shingle_ids(text)
    expected = max(1, n_bytes - hashing.SHINGLE_SIZE + 1)
    assert len(ids) == expected


@SETTLE
@given(
    keys=st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200)
)
def test_bloom_kernel_no_false_negatives(keys):
    arr = np.array(keys or [0], dtype=np.int64)
    m_bits, k = bloom.optimal_params(len(arr), 0.01)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    idx = bloom._indexes(arr.astype(np.uint64), m_bits, k).ravel()
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    b = bloom.Bloom(bits.tobytes(), m_bits, k)
    assert b.might_contain_np(arr).all()


@SETTLE
@given(
    items=st.lists(
        st.tuples(st.text(alphabet="abc123", min_size=1, max_size=10), st.binary(max_size=200)),
        min_size=1,
        max_size=20,
    )
)
def test_archive_members_roundtrip(items):
    blob = b"".join(_member_bytes(k, v) for k, v in items)
    got = [(k, payload) for _, k, payload in _iter_members(blob)]
    assert got == items


@SETTLE
@given(n=st.integers(min_value=1, max_value=10**9), fpp=st.floats(0.001, 0.2))
def test_bloom_sizing_monotone(n, fpp):
    m, k = bloom.optimal_params(n, fpp)
    assert m % 64 == 0 and m >= 64 and k >= 1
    m2, _ = bloom.optimal_params(n, fpp / 2)
    assert m2 >= m  # stricter fpp never shrinks the filter


def test_kmv_overlap_estimator_properties(spark):
    """KMV sketch estimates: exact when |set| < k (the sketch IS the
    set), within sampling error when |set| >> k, and the sketch
    Jaccard tracks the exact one."""
    import hashlib

    from commoncrawl_crawler_spark.operators import aggregates as A

    # two sources with engineered bigram overlap: texts are word
    # chains so each adjacent pair is one bigram
    n, shared = 600, 360
    words_a = [f"w{i}" for i in range(n + 1)]
    words_b = [f"w{i}" for i in range(n - shared, 2 * n - shared + 1)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(words_a), "en", "src0", 1),
            (1, " ".join(words_b), "en", "src1", 1),
            (2, "a b", "en", "src2", 1),  # 1 bigram: below-k path
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        (r.source_a, r.source_b): r
        for r in A.kmv_source_overlap(docs, k=128, pairs=3).collect()
    }
    r01 = out[("src0", "src1")]
    # both sides have exactly n distinct bigrams; estimator within 35%
    assert abs(r01.est_distinct_a - n) / n < 0.35
    assert abs(r01.est_distinct_b - n) / n < 0.35
    exact_j = shared / (2 * n - shared)
    assert abs(r01.exact_jaccard_micro / 1e6 - exact_j) < 1e-6
    assert abs(r01.est_jaccard_micro - r01.exact_jaccard_micro) < 250_000
    r12 = out[("src1", "src2")]
    assert r12.est_distinct_b == 1  # below-k sketch = exact size
    assert r12.exact_jaccard_micro == 0 and r12.est_jaccard_micro == 0


def test_temperature_mixture_flattens_toward_tail(spark):
    """alpha=0.5 sits between raw frequency and uniform: the tail
    language's planned share strictly exceeds its raw share, the
    head's strictly shrinks, shares are ordered like counts, and the
    plan is exact-integer deterministic."""
    from commoncrawl_crawler_spark.operators import sampling as S

    rows = (
        [(i, "t", "en", "s", 1) for i in range(900)]
        + [(1000 + i, "t", "de", "s", 1) for i in range(90)]
        + [(2000 + i, "t", "yo", "s", 1) for i in range(10)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.lang: r for r in S.temperature_mixture(docs, 1000).collect()}
    raw = {"en": 900, "de": 90, "yo": 10}
    total = sum(raw.values())
    for lang in raw:
        raw_ppm = raw[lang] * 1_000_000 // total
        if lang == "en":
            assert out[lang].share_ppm < raw_ppm  # head shrinks
        else:
            assert out[lang].share_ppm > raw_ppm  # tail grows
    assert out["en"].share_ppm > out["de"].share_ppm > out["yo"].share_ppm
    assert sum(r.planned_docs for r in out.values()) <= 1000
