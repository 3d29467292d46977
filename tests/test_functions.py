"""Unit tests for the scalar function library.

The reference embeds its vectors in production files (URL table at
URLUtils.java:972,1117; simhash asserts DeduperUtils.java:955-1050);
we write our own table-driven vectors for the re-derived semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from commoncrawl_crawler_spark.functions import hashing, text, urls

# table-driven canonicalization vectors (style of URLUtils.java:972)
CANON_CASES = [
    ("HTTP://Example.COM/Path", "http://example.com/Path"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("https://example.com:8443/a", "https://example.com:8443/a"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://example.com", "http://example.com/"),
    ("example.com/x", "http://example.com/x"),
    ("http://example.com/a?jsessionid=abc&q=1", "http://example.com/a?q=1"),
    ("http://example.com/a?PHPSESSID=zz", "http://example.com/a"),
    ("http://example.com/a;jsessionid=xyz", "http://example.com/a"),
    ("http://example.com/a?utm_source=x&k=v", "http://example.com/a?k=v"),
    ("http://EXAMPLE.com./a", "http://example.com/a"),
    ("", None),
    (None, None),
]


@pytest.mark.parametrize("raw,expected", CANON_CASES)
def test_canonicalize_url(raw, expected):
    assert urls.canonicalize_url(raw) == expected


# the reference's own golden table, ported verbatim
# (util/URLUtils.java:1117 CanonicalizationTestCase[])
REFERENCE_GOLDEN_CASES = [
    ("http://foo.bar.com.#?", "http://foo.bar.com/"),
    (
        "http://foo.bar.com./;msg1234FDF FDFDFDF FDFD?param1=test",
        "http://foo.bar.com/?param1=test",
    ),
    ("http://foo.bar.com./;msg1234FDF FDFDFDF FDFD", "http://foo.bar.com/"),
    (
        "http://foo.bar.com/subpath/;msg1234FDF FDFDFDF FDFD",
        "http://foo.bar.com/subpath/",
    ),
    (
        "http://foo.bar.com/subpath/;msg1234FDF FDFDFDF FDFD?param=1",
        "http://foo.bar.com/subpath/?param=1",
    ),
    ("http://foo.bar.com.#REF=24242", "http://foo.bar.com/"),
    (
        "http://www.lakeshorelearning.com/order/onlineOrder.jsp;jsessionid="
        "KxMMpRGgPpC1ktZ1pJJCZF1MmmFxZHPnyrNJhBmWJGHkhcL5Hd4p!-617247554!NONE"
        "?FOLDER%3C%3Efolder_id=2534374302096766"
        "&ASSORTMENT%3C%3East_id=1408474395181113&bmUID=1257311436941",
        "http://www.lakeshorelearning.com/order/onlineOrder.jsp"
        "?FOLDER%3C%3Efolder_id=2534374302096766"
        "&ASSORTMENT%3C%3East_id=1408474395181113&bmUID=1257311436941",
    ),
    (
        "http://www.emeraldinsight.com/Insight/menuNavigation.do;jsessionid="
        "A17FC93E864C2F8B3709F63558BA69DB?hdAction=InsightHome",
        "http://www.emeraldinsight.com/Insight/menuNavigation.do"
        "?hdAction=InsightHome",
    ),
]


@pytest.mark.parametrize("raw,expected", REFERENCE_GOLDEN_CASES)
def test_canonicalize_reference_golden_table(raw, expected):
    assert urls.canonicalize_url(raw) == expected


# session-id shapes from util/SessionIDURLNormalizer.java's comments
SESSION_PATH_CASES = [
    (
        "http://www.bearcountryuk.com/index.php/cPath/50/Accessories"
        "/osCsid/4d4b2659aa5f1a39d907d315cf0a5209",
        "http://www.bearcountryuk.com/index.php/cPath/50/Accessories",
    ),
    (
        "http://www.minshuku-web.com/catalog/869"
        "/PHPSESSID/96bc0d2490b3ce6206d04c1ed7ccfb26.html",
        "http://www.minshuku-web.com/catalog/869.html",
    ),
    (
        "http://ifshinviolins.com/sessions/dd603a0a691faeb744db3f72212ca888/store",
        "http://ifshinviolins.com/store",
    ),
    (
        "http://www.reinke.com/index.html"
        "/session_id/d606e74935a60c04d9989082b2fb624d/screen/interesting_links",
        "http://www.reinke.com/index.html/screen/interesting_links",
    ),
    (
        "http://www.iboats.com/Tanks/dm/cart_id.726334728--category_id.238165"
        "--session_id.729524783--view_id.238165",
        "http://www.iboats.com/Tanks/dm/cart_id.726334728"
        "--category_id.238165--view_id.238165",
    ),
    # the AJAX-crawl #! fragment survives canonicalization
    ("http://example.com/page#!state=1", "http://example.com/page#!state=1"),
    ("http://example.com/page#plain", "http://example.com/page"),
]


@pytest.mark.parametrize("raw,expected", SESSION_PATH_CASES)
def test_canonicalize_session_id_paths(raw, expected):
    assert urls.canonicalize_url(raw) == expected


ROOT_CASES = [
    ("www.example.com", "example.com"),
    ("a.b.example.co.uk", "example.co.uk"),
    ("example.com", "example.com"),
    ("com", "com"),
    ("deep.sub.domain.example.org", "example.org"),
    (None, None),
    # public-suffix table coverage (functions/psl.py; reference
    # util/TLDNamesCollection.java + URLUtils.testRootDomainExtractor)
    ("www.shop.example.com.au", "example.com.au"),
    ("user.github.io", "user.github.io"),
    ("deep.user.github.io", "user.github.io"),
    ("myapp.blogspot.com", "myapp.blogspot.com"),
    ("www.ret.gov.au", "ret.gov.au"),
    ("www.ne.jp", "www.ne.jp"),
    ("foo.ac.jp", "foo.ac.jp"),
    ("bochi.aichi.jp", "bochi.aichi.jp"),
    ("x.bochi.aichi.jp", "bochi.aichi.jp"),
    ("city.k12.ca.us", "k12.ca.us"),
    ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
    # wildcard TLD: every direct child of .ck is a suffix...
    ("shop.biz.ck", "shop.biz.ck"),
    # ...except the !www.ck exception rule
    ("www.ck", "www.ck"),
    ("sub.www.ck", "www.ck"),
]


@pytest.mark.parametrize("host,expected", ROOT_CASES)
def test_root_domain(host, expected):
    assert urls.root_domain(host) == expected


def test_simhash_similarity_property():
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "lazzy")
    far = "completely different content about spark aggregation engines " * 5
    h0, h1, h2 = (hashing.simhash64(t) for t in (base, near, far))

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(h0, h1) < 12  # near-dup stays close
    assert ham(h0, h2) > 20  # unrelated stays far
    assert hashing.simhash64(base) == h0  # deterministic


def test_simhash_bands_collision_property(spark):
    """Hashes within hamming<=3 must share >=1 of the 20 band keys
    (the C(6,3) blocking guarantee, DeduperUtils.java:201)."""
    h = hashing.simhash64("some document text for banding " * 3)
    h_near = h ^ 0b101  # flip 2 bits -> hamming 2
    h_far = h ^ ((1 << 1) | (1 << 12) | (1 << 23) | (1 << 34) | (1 << 45) | (1 << 56))
    df = spark.createDataFrame(
        [Row(id=1, sh=h), Row(id=2, sh=h_near), Row(id=3, sh=h_far)]
    )
    bands = df.select(
        "id", F.explode(hashing.simhash_bands_expr(F.col("sh"))).alias("band")
    ).select("id", "band.pattern", "band.key")
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.pattern") == F.col("b.pattern"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
        .distinct()
        .collect()
    )
    matched = {(r[0], r[1]) for r in pairs}
    assert (1, 2) in matched  # hamming-2 pair must collide
    assert (1, 3) not in matched  # 6 spread bits -> every block differs


def test_hamming_expr(spark):
    df = spark.createDataFrame([Row(a=0b1011, b=0b0010)])
    got = df.select(hashing.hamming_distance_expr(F.col("a"), F.col("b")).alias("h"))
    assert got.collect()[0].h == 2  # 1011 XOR 0010 = 1001 -> 2 set bits


def test_ip_conversion_roundtrip(spark):
    df = spark.createDataFrame([Row(ip="192.168.1.10"), Row(ip="8.8.8.8")])
    out = df.select(
        "ip",
        urls.ip_to_int_expr(F.col("ip")).alias("as_int"),
    ).select("ip", "as_int", urls.int_to_ip_expr(F.col("as_int")).alias("back"))
    for r in out.collect():
        assert r.ip == r.back
    as_int = {r.ip: r.as_int for r in out.collect()}
    assert as_int["8.8.8.8"] == 8 * 16777216 + 8 * 65536 + 8 * 256 + 8


def test_text_exprs(spark):
    df = spark.createDataFrame(
        [
            Row(t="the quick brown fox and the lazy dog"),
            Row(t="der hund und die katze ist das"),
            Row(t=""),
            Row(t="!!! ??? ;;;"),
        ]
    )
    out = df.select(
        "t",
        text.token_count_expr(F.col("t")).alias("tokens"),
        text.punct_ratio_expr(F.col("t")).alias("punct"),
        text.langid_scores_expr(F.col("t")).alias("lang"),
        text.quality_score_expr(F.col("t")).alias("q"),
    ).collect()
    by_text = {r.t: r for r in out}
    assert by_text["the quick brown fox and the lazy dog"].tokens == 8
    assert by_text["the quick brown fox and the lazy dog"].lang == "en"
    assert by_text["der hund und die katze ist das"].lang == "de"
    assert by_text[""].tokens == 0
    assert by_text["!!! ??? ;;;"].punct > 0.5
    assert by_text["the quick brown fox and the lazy dog"].q > by_text["!!! ??? ;;;"].q


def test_char_ngrams_expr(spark):
    df = spark.createDataFrame([Row(t="abcdef")])
    grams = df.select(text.char_ngrams_expr(F.col("t"), 4).alias("g")).collect()[0].g
    assert grams == ["abcd", "bcde", "cdef"]


def test_bpe_token_count_expr(spark):
    df = spark.createDataFrame(
        [
            Row(t="hello world"),          # ["hello", " world"] = 2
            Row(t="it's 42 degrees!!"),    # it, 's, " 42", " degrees", "!!" = 5
            Row(t=""),
        ]
    )
    out = {
        r.t: r.n
        for r in df.select(
            "t", text.bpe_token_count_expr(F.col("t")).alias("n")
        ).collect()
    }
    assert out["hello world"] == 2
    assert out["it's 42 degrees!!"] == 5
    assert out[""] == 0


def test_winnow_fingerprint_guarantee(spark):
    """Schleimer et al. guarantee: documents sharing a substring of
    length >= k + w - 1 (= 11 here) share at least one fingerprint;
    identical docs share all of them."""
    shared = "commonrun99"  # 11 chars = k + w - 1
    df = spark.createDataFrame(
        [
            Row(doc_id=1, t="aaaa " + shared + " bbbb"),
            Row(doc_id=2, t="cccc " + shared + " dddd"),
            Row(doc_id=3, t="totally different words here"),
            Row(doc_id=4, t="totally different words here"),
        ]
    )
    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", text.winnow_fingerprints_expr(F.col("t")).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared >=k+w-1 substring must share a fingerprint"
    assert fps[3] == fps[4], "identical docs share identical fingerprint sets"
    assert not (fps[1] & fps[3]), "disjoint text should not collide"
    # fingerprints are the md5->60-bit form, sorted ascending
    for s in fps.values():
        assert all(0 <= v < (1 << 60) for v in s)


def test_canonicalize_udf_matches_kernel(spark):
    raws = [c[0] for c in CANON_CASES if c[0]]
    df = spark.createDataFrame([Row(u=r) for r in raws])
    got = {
        r.u: r.c
        for r in df.select(
            "u", urls.canonicalize_url_udf(F.col("u")).alias("c")
        ).collect()
    }
    for raw in raws:
        assert got[raw] == urls.canonicalize_url(raw), raw


def test_contamination_check_flags_copied_benchmark_text(spark):
    """A training doc containing a benchmark doc's text verbatim must
    flag contaminated; disjoint text must report zero shared shingles;
    the threshold separates drive-by phrase overlap from real leakage."""
    from commoncrawl_crawler_spark.operators import textstats

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="intro words " + bench_text + " outro words"),
            Row(doc_id=2, text="completely unrelated corpus material here now"),
            # shares only one 5-gram window's worth -> below min_shared=3
            Row(doc_id=3, text="quick brown fox jumps over nothing else at all"),
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=100, text=bench_text)])
    out = {
        r.doc_id: (r.shared_ngrams, r.contaminated)
        for r in textstats.contamination_check(
            train, bench, n=5, min_shared=3
        ).collect()
    }
    assert out[1][1] is True and out[1][0] >= 3
    assert out[2] == (0, False)
    assert out[3][1] is False


def test_mixture_plan_budget_and_caps(spark):
    """Rates cap at 1.0 when a source is smaller than its allocation;
    expected tokens = min(target, available); unweighted sources get
    rate 0."""
    from commoncrawl_crawler_spark.operators import sampling

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="big", text="w " * 50) for i in range(10)]
        + [Row(doc_id=100 + i, source="tiny", text="w w") for i in range(2)]
        + [Row(doc_id=200, source="unweighted", text="x y z")]
    )
    weights = spark.createDataFrame(
        [
            Row(source="big", weight=1.0),
            Row(source="tiny", weight=1.0),
            # weighted source with NO documents: must still emit a
            # visible shortfall row (its weight stays in the
            # normalizer), not silently vanish
            Row(source="ghost", weight=2.0),
        ]
    )
    out = {
        r.source: r.asDict()
        for r in sampling.mixture_plan(docs, weights, token_budget=200).collect()
    }
    assert out["ghost"]["docs"] == 0
    assert out["ghost"]["available_tokens"] == 0
    assert out["ghost"]["target_tokens"] == 100  # floor(200*2/4)
    assert out["ghost"]["sampling_rate"] == 0.0  # empty, not "fully sampled"
    assert out["ghost"]["expected_tokens"] == 0
    assert out["big"]["available_tokens"] == 500
    assert out["big"]["target_tokens"] == 50  # floor(200*1/4)
    assert out["big"]["sampling_rate"] == 0.1
    assert out["big"]["expected_tokens"] == 50
    # tiny has 4 tokens but a 50-token allocation: rate caps at 1.0
    assert out["tiny"]["sampling_rate"] == 1.0
    assert out["tiny"]["expected_tokens"] == 4
    assert out["unweighted"]["sampling_rate"] == 0.0
    assert out["unweighted"]["expected_tokens"] == 0


def test_winnow_multibyte_text_uses_char_gram_semantics(spark):
    """The ASCII byte-slicing fast path and the char-slicing fallback
    must select identical fingerprints; non-ASCII text must gram over
    CHARACTERS (what the SQL oracle's substr does), not bytes."""
    import hashlib

    # mixed corpus: pure ASCII, latin-1 accents, CJK
    rows = [
        Row(doc_id=1, t="plain ascii running text with words"),
        Row(doc_id=2, t="café au lait déjà vu àéîõü " * 3),
        Row(doc_id=3, t="日本語のテキストです。これはテストです。" * 2),
        Row(doc_id=4, t="mixed ascii と 日本語 café content here"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: list(r.fps)
        for r in df.select(
            "doc_id", text.winnow_fingerprints_expr(F.col("t"), k=8, w=4).alias("fps")
        ).collect()
    }

    def ref(t, k=8, w=4):
        n = max(len(t) - (k - 1), 1)
        hs = [
            int(hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
            for i in range(n)
        ]
        if n >= w:
            kept = [min(hs[i : i + w]) for i in range(n - w + 1)]
        else:
            kept = [min(hs)]
        return sorted(set(kept))

    for r in rows:
        assert got[r.doc_id] == ref(r.t), f"doc {r.doc_id}"


def test_chunk_documents_windows_and_overlap(spark):
    """Chunks tile with the configured overlap; the final partial
    chunk keeps its true length; short docs yield exactly one chunk."""
    from commoncrawl_crawler_spark.operators import textstats

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=words), Row(doc_id=2, text="a b c")]
    )
    out = textstats.chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    d1 = [r for r in out if r.doc_id == 1]
    d2 = [r for r in out if r.doc_id == 2]
    # 100 tokens, window 40, stride 30 -> chunks at 0,30,60 (covers to 100)
    assert [r.chunk_idx for r in d1] == [0, 1, 2]
    assert [r.n_tokens for r in d1] == [40, 40, 40]
    assert d1[1].chunk_text.split()[0] == "w30"  # overlap of 10
    assert d1[2].chunk_text.split()[-1] == "w99"  # tail covered
    assert len(d2) == 1 and d2[0].n_tokens == 3


def test_paragraph_dedup_drops_boilerplate_keeps_order(spark):
    from commoncrawl_crawler_spark.operators import textstats

    # "COOKIE banner" appears in 3 docs (> max_doc_freq=2) -> dropped
    # everywhere; per-doc unique paragraphs survive in original order
    rows = [
        (1, 0, "unique alpha"),
        (1, 1, "cookie banner"),
        (1, 2, "unique beta"),
        (2, 0, "Cookie Banner"),  # case-insensitive normalization
        (2, 1, "only in two"),
        (3, 0, "cookie banner"),
        (3, 1, "only in two"),
        (4, 0, "cookie banner"),  # every paragraph dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, para_idx int, para_text string"
    )
    out = {
        r["doc_id"]: r
        for r in textstats.paragraph_dedup(df, max_doc_freq=2).collect()
    }
    assert out[1]["clean_text"] == "unique alpha unique beta"
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (3, 1)
    assert out[2]["clean_text"] == "only in two"  # freq 2 == max -> kept
    assert out[3]["clean_text"] == "only in two"
    assert out[4]["clean_text"] == ""  # fully-boilerplate doc stays, empty
    assert out[4]["n_dropped"] == 1


def test_repetition_signals_gopher_fractions(spark):
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # "a b" x3, "b a" x2
            (2, "x"),  # single token: no 2-grams -> no output row
            (3, "p q"),  # one gram, no repetition
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.repetition_signals(df, n=2).collect()
    }
    assert 2 not in out  # sequence(1,0) guard: no phantom grams
    r1 = out[1]
    assert (r1["n_grams"], r1["distinct_grams"]) == (5, 2)
    assert r1["top_gram"] == "a b"
    # chars=11; top: 3 occurrences x len("a b")=3 -> 9/11
    assert abs(r1["top_gram_char_frac"] - round(9 / 11, 6)) < 1e-9
    # beyond-first occurrences: (3-1)*3 + (2-1)*3 = 9 -> 9/11
    assert abs(r1["dup_gram_char_frac"] - round(9 / 11, 6)) < 1e-9
    assert out[3]["dup_gram_char_frac"] == 0.0


def test_unigram_surprisal_rare_words_score_higher(spark):
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "the zebra"), (3, "zebra quark")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.unigram_logprob_scores(df).collect()
    }
    # corpus: the x5, zebra x2, quark x1 of 8 words
    assert out[1]["n_tok"] == 4
    assert (
        out[1]["mean_surprisal_bits"]
        < out[2]["mean_surprisal_bits"]
        < out[3]["mean_surprisal_bits"]
    )
    import math

    exp = -math.log2(5 / 8)
    assert abs(out[1]["mean_surprisal_bits"] - round(exp, 6)) < 2e-6


def test_weighted_quota_sample_aes_model_and_bias(spark):
    """weighted_quota_sample must (a) reproduce the exact A-ES
    selection computed by a Python model with the same md5-derived
    uniforms, and (b) favor heavy rows: with weights 100 vs 1, the
    selected set skews overwhelmingly heavy."""
    import hashlib
    import math

    from commoncrawl_crawler_spark.operators import sampling

    m = 1 << 30
    rows = [
        (k, "g", 100.0 if k % 2 == 0 else 1.0) for k in range(400)
    ] + [(1000, "g", 0.0), (1001, "g", None)]  # never sampled
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = sampling.weighted_quota_sample(
        df, group_cols=["source"], key_col="doc_id", weight_col="w", quota=40
    ).collect()
    got = sorted(r["doc_id"] for r in out)

    def cost(k, w):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        u = (h % m + 1) / (m + 1)
        # micro-unit quantization, matching the engine-stable
        # floor(x*1e6+0.5) discipline (round(x,6) is not)
        return (math.floor((-math.log(u) / w) * 1e6 + 0.5), k)

    model = sorted(
        (k for k, _, w in rows if w), key=lambda k: cost(k, 100.0 if k % 2 == 0 else 1.0)
    )[:40]
    assert got == sorted(model)
    assert 1000 not in got and 1001 not in got
    heavy = sum(1 for k in got if k % 2 == 0)
    assert heavy >= 35  # 100:1 weights -> overwhelmingly heavy picks


def test_text_ops_differential_random_corpus(spark):
    """Seeded-random corpus differential: paragraph_dedup and
    repetition_signals must agree with independent pure-Python models
    (the DuckDB oracles share the relational formulation; these models
    do not)."""
    import hashlib
    import random
    from collections import Counter

    from commoncrawl_crawler_spark.operators import textstats

    rng = random.Random(20260814)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "y"]
    paras = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 5)))
        for _ in range(12)
    ]
    docs, prows = [], []
    for d in range(40):
        n = rng.randrange(1, 7)
        ps = [rng.choice(paras) for _ in range(n)]
        docs.append((d, " ".join(ps)))
        prows += [(d, i, p) for i, p in enumerate(ps)]

    # ---- paragraph_dedup vs model ---------------------------------
    pdf = spark.createDataFrame(
        prows, "doc_id long, para_idx int, para_text string"
    )
    got = {
        r["doc_id"]: r
        for r in textstats.paragraph_dedup(pdf, max_doc_freq=3).collect()
    }
    freq = Counter()
    per_doc = {}
    for d, i, p in prows:
        per_doc.setdefault(d, []).append((i, p))
    for p in {(d, hashlib.md5(p.lower().strip().encode()).hexdigest())
              for d, _, p in prows}:
        freq[p[1]] += 1
    for d, items in per_doc.items():
        kept = [
            p
            for _, p in sorted(items)
            if freq[hashlib.md5(p.lower().strip().encode()).hexdigest()] <= 3
        ]
        r = got[d]
        assert r["n_paras"] == len(items)
        assert r["n_dropped"] == len(items) - len(kept)
        assert r["clean_text"] == " ".join(kept), d

    # ---- repetition_signals vs model ------------------------------
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    rep = {
        r["doc_id"]: r
        for r in textstats.repetition_signals(ddf, n=2).collect()
    }
    for d, text in docs:
        toks = text.split()
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        if not grams:
            assert d not in rep
            continue
        c = Counter(grams)
        top_cnt, top = max(((v, g) for g, v in c.items()))
        r = rep[d]
        assert (r["n_grams"], r["distinct_grams"]) == (len(grams), len(c))
        assert r["top_gram"] == top
        chars = max(len(text), 1)
        assert abs(r["top_gram_char_frac"] - round(top_cnt * len(top) / chars, 6)) < 1e-9
        dup = sum((v - 1) * len(g) for g, v in c.items())
        assert abs(r["dup_gram_char_frac"] - round(dup / chars, 6)) < 1e-9


def test_pack_sequences_concat_then_chunk(spark):
    """Hand-computed packing: docs of 3/5/4 tokens into seq_len=4 --
    doc 2 spans the seq 0/1 boundary, doc 3 spans 1/2; empty docs
    occupy no tokens and emit no row."""
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "a b c"),  # tokens 0-2 -> seq 0
            (2, "d e f g h"),  # tokens 3-7 -> seqs 0..1
            (3, "i j k l"),  # tokens 8-11 -> seqs 2..2
            (4, ""),  # empty: dropped
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.pack_sequences(df, seq_len=4).collect()
    }
    assert 4 not in out
    assert (out[1]["start_offset"], out[1]["first_seq"], out[1]["last_seq"],
            out[1]["start_in_seq"]) == (0, 0, 0, 0)
    assert (out[2]["start_offset"], out[2]["first_seq"], out[2]["last_seq"],
            out[2]["start_in_seq"]) == (3, 0, 1, 3)
    assert (out[3]["start_offset"], out[3]["first_seq"], out[3]["last_seq"],
            out[3]["start_in_seq"]) == (8, 2, 2, 0)
    # global invariant: offsets tile the token stream with no gaps
    rows = sorted(out.values(), key=lambda r: r["start_offset"])
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos
        pos += r["n_tok"]


def test_pack_sequences_sharded_matches_single_shard(spark):
    """The sharded decomposition (per-shard windows + closed-form
    shard prefix offsets) must reproduce the single-stream packing
    bit-for-bit at ANY bucket count, and its plan must carry no
    single-task exchange (the 100 TB shape the global window lacked)."""
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(i % 7 + 1)))
         for i in range(200)],
        "doc_id long, text string",
    ).repartition(8)
    base = sorted(
        map(tuple, textstats.pack_sequences(df, seq_len=16,
                                            buckets=1).collect())
    )
    for buckets in (4, 32):
        sharded = sorted(
            map(tuple, textstats.pack_sequences(df, seq_len=16,
                                                buckets=buckets).collect())
        )
        assert sharded == base, buckets
    plan = textstats.pack_sequences(df, seq_len=16)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_tfidf_keywords_ranking(spark):
    """Hand-computed tf-idf: a corpus-wide word scores idf=0 and never
    beats a distinctive word; ranking ties break on token."""
    import math

    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "common zebra zebra common common"),
            (2, "common quark common"),
            (3, "common common"),
        ],
        "doc_id long, text string",
    )
    out = textstats.tfidf_keywords(df, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: zebra (tf=2, idf=ln(3)) beats common (idf=0)
    assert by_doc[1][0]["token"] == "zebra"
    assert abs(by_doc[1][0]["tfidf"] - round(2 * round(math.log(3), 6), 6)) < 1e-9
    # doc 3: only 'common', idf 0 -> score 0 but still listed
    assert [r["token"] for r in by_doc[3]] == ["common"]
    assert by_doc[3][0]["tfidf"] == 0.0
    # every doc emits at most top_k rows
    assert all(len(v) <= 2 for v in by_doc.values())


def test_pmi_pairs_association_direction(spark):
    """PMI sign check: tokens engineered to always co-occur score
    positive; tokens that never do are absent; independence scores
    ~ln(1)=0."""
    import math

    from commoncrawl_crawler_spark.operators import textstats

    rows = []
    # 'salt pepper' always together (10 docs); 'oil' alone (10 docs);
    # 'water' in every doc (independent of the rest)
    for d in range(10):
        rows.append((d, "salt pepper water"))
    for d in range(10, 20):
        rows.append((d, "oil water"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["token_a"], r["token_b"]): r
        for r in textstats.pmi_pairs(
            df, top_vocab=10, min_pair_docs=2
        ).collect()
    }
    # salt+pepper: df=10 each, pair=10, N=20 -> pmi = ln(20*10/100) = ln 2
    assert abs(out[("pepper", "salt")]["pmi"] - round(math.log(2), 6)) < 1e-9
    # water co-occurs with salt in 10 of 20 docs; water df=20 ->
    # ln(20*10/(10*20)) = 0 (independence)
    assert out[("salt", "water")]["pmi"] == 0.0
    # oil never meets salt
    assert ("oil", "salt") not in out


def test_bm25_ranking_properties(spark):
    """BM25 sanity: a doc with more query-term hits outranks one with
    fewer; the length normalization penalizes padding; docs with no
    query terms are absent."""
    from commoncrawl_crawler_spark.operators import textstats

    pad = " filler" * 50
    df = spark.createDataFrame(
        [
            (1, "spark spark spark window"),
            (2, "spark window"),
            (3, "spark window" + pad),  # same hits, much longer
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    out = textstats.bm25_scores(
        df, terms=["spark", "window"], top_k=10
    ).collect()
    ranks = {r["doc_id"]: i for i, r in enumerate(out)}
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert 4 not in ranks
    assert ranks[1] < ranks[2] < ranks[3]
    assert scores[2] > scores[3] > 0


def test_rice_coding_reference_bit_compatibility():
    """Bit-for-bit parity with RiceCoding.java: LSB-first bit append,
    unary quotient + MSB-first m-bit remainder, val-1 shift."""
    from commoncrawl_crawler_spark.functions import ricecoding as rc

    # hand-computed: m=2, items [1, 5] -> x=0: q=0,r=0 -> bits 0,00
    # x=4: q=1,r=0 -> bits 1,0,00 ; stream = 000 10 00 (append order)
    blob = rc.rice_encode([1, 5], 2)
    m, size, nbits = blob[0], int.from_bytes(blob[1:5], "little"), int.from_bytes(blob[5:9], "little")
    assert (m, size, nbits) == (2, 2, 7)
    # bits LSB-first in byte: sequence 0,0,0,1,0,0,0 -> byte 0b0001000
    assert blob[9] == 0b0001000
    assert rc.rice_decode(blob) == [1, 5]

    # roundtrip across m values and magnitudes (incl. q=0 and big q)
    import random

    rng = random.Random(9)
    for m in (0, 1, 3, 7, 13):
        vals = [rng.randrange(1, 1 << 16) for _ in range(200)]
        assert rc.rice_decode(rc.rice_encode(vals, m)) == vals
    assert rc.rice_bit_length([1, 5], 2) == 7

    import pytest as _pytest

    with _pytest.raises(ValueError, match="val < 1"):
        rc.rice_encode([0], 4)
    with _pytest.raises(ValueError, match="m <"):
        rc.rice_encode([1], 65)


def test_compress_fp_lists_roundtrip_and_size(spark):
    from pyspark.sql import Row

    from commoncrawl_crawler_spark.functions import ricecoding as rc

    rows = [Row(source=f"s{i % 3}", doc_id=i * 7 + i % 5) for i in range(60)]
    out = rc.compress_fp_lists(
        spark.createDataFrame(rows), m=4
    ).collect()
    assert len(out) == 3
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.doc_id)
    for r in out:
        ids = sorted(by_src[r["source"]])
        deltas = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
        assert r["n_items"] == len(ids)
        assert r["sum_fp"] == sum(ids)
        assert r["total_bits"] == rc.rice_bit_length(deltas, 4)


def test_bigram_surprisal_model_and_ordering(spark):
    """Add-one bigram LM vs an independent Python model; a document
    made of the corpus's common bigram scores LOWER surprisal than a
    document of one-off bigrams; single-token docs emit no row."""
    import math
    from collections import Counter

    from pyspark.sql import Row

    from commoncrawl_crawler_spark.operators import textstats

    docs = [
        (0, "a b a b a b"),
        (1, "a b a b"),
        (2, "x y"),
        (3, "z q w e"),
        (4, "solo"),
    ]
    out = {
        r["doc_id"]: r
        for r in textstats.bigram_logprob_scores(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert 4 not in out  # no bigrams

    # independent model
    toks = {d: t.split() for d, t in docs}
    uni = Counter(w for t in toks.values() for w in t)
    bgs = Counter(
        (t[i], t[i + 1]) for t in toks.values() for i in range(len(t) - 1)
    )
    V = len(uni)

    def lp(b):
        return round(-math.log2((bgs[b] + 1) / (uni[b[0]] + V)), 6)

    for d, t in docs:
        pairs = [(t.split()[i], t.split()[i + 1]) for i in range(len(t.split()) - 1)]
        if not pairs:
            continue
        sm = round(sum(lp(p) for p in pairs) * 1e6)
        n = len(pairs)
        want = ((2 * sm + n) // (2 * n)) / 1e6
        assert out[d]["n_bigrams"] == n
        assert abs(out[d]["mean_surprisal_bits"] - want) < 1e-9, d
    # common-bigram doc reads as lower-surprisal than one-off docs
    assert out[0]["mean_surprisal_bits"] < out[3]["mean_surprisal_bits"]


def test_duplicate_span_profile_merges_maximal_spans(spark):
    from commoncrawl_crawler_spark.operators import textstats

    rows = [
        # within-doc repeat of "a b c d e": hit shingles at pos 1,2
        # and 9,10 merge into TWO maximal 5-token spans
        (1, "a b c d e X y z a b c d e"),
        # cross-doc shared run "p q r s t" with doc 3
        (2, "p q r s t u v"),
        (3, "z z p q r s t"),
        (4, "solo only words here nothing shared"),
        (5, "too short"),  # < min_len tokens -> no shingles at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.duplicate_span_profile(df, min_len=4).collect()
    }
    assert len(out) == 5
    assert (out[1]["dup_spans"], out[1]["dup_tokens"]) == (2, 10)
    assert out[1]["n_tokens"] == 13
    assert out[1]["dup_frac_micro"] == 10 * 1_000_000 // 13
    assert (out[2]["dup_spans"], out[2]["dup_tokens"]) == (1, 5)
    assert (out[3]["dup_spans"], out[3]["dup_tokens"]) == (1, 5)
    assert (out[4]["dup_spans"], out[4]["dup_tokens"]) == (0, 0)
    assert (out[5]["dup_spans"], out[5]["dup_tokens"]) == (0, 0)
    assert out[5]["dup_frac_micro"] == 0


def test_distinct_sketch_matches_python_model_and_error_bound(spark):
    import hashlib

    from commoncrawl_crawler_spark.operators import aggregates

    rows = [(f"g{i % 3}", f"user-{i % 257}") for i in range(2000)]
    df = spark.createDataFrame(rows, "grp_in string, val string")
    out = {
        r["grp"]: r
        for r in aggregates.distinct_sketch(df, "grp_in", "val").collect()
    }

    # independent model: same md5 slices, registers, exact integer math
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set] = {}
    for g, v in rows:
        hx = hashlib.md5(v.encode()).hexdigest()
        bucket = int(hx[:15], 16) % 64
        w = int(hx[15:30], 16) % (1 << 40)
        rho = 41 - w.bit_length()
        regs.setdefault(g, {})
        regs[g][bucket] = max(regs[g].get(bucket, 0), rho)
        exact.setdefault(g, set()).add(v)
    for g, table in regs.items():
        denom = sum((1 << 41) >> r for r in table.values())
        denom += (64 - len(table)) * (1 << 41)
        est_micro = (709390 * 4096 * (1 << 41)) // denom
        assert out[g]["denom"] == denom, g
        assert out[g]["est_micro"] == est_micro, g
        assert out[g]["buckets_present"] == len(table), g
        xor = 0
        for b, r in table.items():
            xor ^= b * 64 + r
        assert out[g]["reg_xor"] == xor, g
        assert out[g]["exact_distinct"] == len(exact[g]), g
        # raw-HLL relative error for m=64 is ~1.04/8; allow 3 sigma
        # (n=257 sits in the small-range band where raw HLL biases
        # high without linear counting, so the bound is loose)
        assert abs(est_micro / 1e6 - len(exact[g])) < 0.5 * len(exact[g]), g


def test_distinct_sketch_union_equals_direct_sketch(spark):
    from pyspark.sql import functions as F

    from commoncrawl_crawler_spark.operators import aggregates

    rows = [(f"s{i % 4}", f"v{i % 311}") for i in range(1500)]
    df = spark.createDataFrame(rows, "src string, val string")
    out = {
        r["grp"]: r
        for r in aggregates.distinct_sketch_union(df, "src", "val").collect()
    }
    assert set(out) == {"s0", "s1", "s2", "s3", "__all__"}
    # register-level union must be bit-identical to sketching the
    # unioned raw input directly (max is associative)
    direct = aggregates.distinct_sketch(
        df.select(F.lit("__all__").alias("g"), "val"),
        "g",
        "val",
        with_exact=False,
    ).collect()[0]
    u = out["__all__"]
    for c in ("buckets_present", "reg_xor", "denom", "est_micro"):
        assert u[c] == direct[c], c


def test_duplicate_span_trim_removes_spans_keeps_rest(spark):
    from commoncrawl_crawler_spark.operators import textstats

    rows = [
        (1, "a b c d e X y z a b c d e"),
        (2, "p q r s t u v"),
        (3, "z z p q r s t"),
        (4, "solo only words here nothing shared"),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.duplicate_span_trim(df, min_len=4).collect()
    }
    # doc 1: spans cover tokens 1-5 and 9-13; "x y z" survives
    assert out[1]["clean_text"] == "x y z"
    assert (out[1]["n_tokens"], out[1]["kept_tokens"]) == (13, 3)
    assert out[2]["clean_text"] == "u v"
    assert out[3]["clean_text"] == "z z"
    assert out[4]["clean_text"] == "solo only words here nothing shared"
    assert out[5]["clean_text"] == "too short"
    assert out[5]["kept_tokens"] == 2


def test_perplexity_buckets_tertiles_ordered_per_lang(spark):
    from collections import Counter

    from commoncrawl_crawler_spark.operators import textstats

    # 9 two-bigram docs per language with distinct repetition levels
    # -> distinct surprisals -> 3/3/3 tertiles; bucket boundaries
    # must respect the score ordering
    rows = []
    for li, lang in enumerate(("en", "fr")):
        for i in range(9):
            # vary content so corpus bigram frequencies differ per doc
            rows.append((li * 100 + i, lang, f"w{i} w{i % 3} w0"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = textstats.perplexity_buckets(df).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        counts = Counter(r["ppl_bucket"] for r in rs)
        assert counts == {"head": 3, "middle": 3, "tail": 3}, (lang, counts)
        score = {b: [r["mean_surprisal_bits"] for r in rs if r["ppl_bucket"] == b] for b in counts}
        assert max(score["head"]) <= min(score["middle"])
        assert max(score["middle"]) <= min(score["tail"])


def test_count_min_overestimates_never_under(spark):
    from collections import Counter

    from commoncrawl_crawler_spark.operators import aggregates

    rows = [(i, ("alpha " * (30 - i) + f"rare{i} beta").strip()) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = aggregates.count_min_tokens(df, depth=4, width=64, top_n=10).collect()
    # independent exact counts
    exact = Counter()
    for _, t in rows:
        exact.update(t.lower().split())
    assert len(out) == 10
    for r in out:
        assert r["exact_cnt"] == exact[r["token"]], r["token"]
        # the CMS invariant: never an underestimate
        assert r["cms_estimate"] >= r["exact_cnt"], r["token"]
    # heavy hitters surface in exact-count order
    assert out[0]["token"] == "alpha"
    assert [r["exact_cnt"] for r in out] == sorted(
        [r["exact_cnt"] for r in out], reverse=True
    )


def test_inverted_index_rice_bits_by_hand(spark):
    from commoncrawl_crawler_spark.functions import ricecoding

    # term 'a' in docs {0, 5, 6}: deltas [1, 5, 1] at m=2 cost
    # ((d-1)>>2)+3 bits each -> 3 + 4 + 3 = 10; term 'b' in {7}:
    # delta [8] -> (7>>2)+3 = 4
    td = spark.createDataFrame(
        [(0, "a"), (5, "a"), (6, "a"), (7, "b")], "doc_id long, term string"
    )
    rows = {
        r.term: r
        for r in ricecoding.compress_fp_lists(
            td, group_col="term", fp_col="doc_id", m=2
        ).collect()
    }
    assert (rows["a"].n_items, rows["a"].total_bits, rows["a"].sum_fp) == (
        3, 10, 11,
    )
    assert (rows["b"].n_items, rows["b"].total_bits, rows["b"].sum_fp) == (
        1, 4, 7,
    )


def test_c4_line_filter_rules_by_hand(spark):
    from commoncrawl_crawler_spark.operators import textstats

    rows = [
        # doc 0: five good lines + one per-rule drop -> survives
        (0, 0, "alpha beta gamma one."),
        (0, 1, "alpha beta gamma two."),
        (0, 2, "alpha beta gamma three."),
        (0, 3, "alpha beta gamma four."),
        (0, 4, "alpha beta gamma five?"),
        (0, 5, "no terminal punctuation here"),     # dropped: no punct
        (0, 6, "too short."),                        # dropped: <3 words
        (0, 7, "enable javascript to continue."),    # dropped: banned word
        (0, 8, "see our cookie policy for info."),   # dropped: boilerplate
        # doc 1: good lines but a lorem ipsum line -> page dropped
        (1, 0, "alpha beta gamma one."),
        (1, 1, "lorem ipsum dolor sit amet."),
        (1, 2, "alpha beta gamma three."),
        (1, 3, "alpha beta gamma four."),
        (1, 4, "alpha beta gamma five."),
        (1, 5, "alpha beta gamma six."),
        # doc 2: a curly brace -> page dropped
        (2, 0, "function f() { return 1; }."),
        (2, 1, "alpha beta gamma two."),
        (2, 2, "alpha beta gamma three."),
        (2, 3, "alpha beta gamma four."),
        (2, 4, "alpha beta gamma five."),
        (2, 5, "alpha beta gamma six."),
        # doc 3: only four kept lines -> below min_kept_lines=5
        (3, 0, "alpha beta gamma one."),
        (3, 1, "alpha beta gamma two."),
        (3, 2, "alpha beta gamma three."),
        (3, 3, "alpha beta gamma four."),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, line_idx int, line string"
    )
    out = {r.doc_id: r for r in textstats.c4_line_filter(df).collect()}
    assert set(out) == {0}
    r = out[0]
    assert (r.n_lines, r.n_kept) == (9, 5)
    # kept lines reassemble in original order, dropped ones excised
    assert r.clean_text == (
        "alpha beta gamma one. alpha beta gamma two. "
        "alpha beta gamma three. alpha beta gamma four. "
        "alpha beta gamma five?"
    )


def test_render_line_corpus_windows_and_decorations(spark):
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(30)),),
         (101, "a b c",)],
        "doc_id long, text string",
    )
    lines = textstats.render_line_corpus(df, line_tokens=12).collect()
    by_key = {(r.doc_id, r.line_idx): r.line for r in lines}
    # 30 tokens at 12/window -> 3 lines; 3 tokens -> 1 line
    assert sorted(by_key) == [(7, 0), (7, 1), (7, 2), (101, 0)]
    # doc_id % 101 == 0 poisons line 0 with lorem ipsum
    assert by_key[(101, 0)].startswith("lorem ipsum ")
    # window contents in order (modulo deterministic decorations)
    body = by_key[(7, 1)]
    assert "w12" in body and "w23" in body and "w24" not in body


def test_dsir_weights_prefer_target_language(spark):
    """Docs drawn from the target (en) vocabulary must outscore docs
    from a disjoint vocabulary, and an empty doc scores exactly 0."""
    from commoncrawl_crawler_spark.operators import textstats

    rows = []
    for i in range(6):
        rows.append((i, "the quick brown fox jumps over the lazy dog", "en"))
    for i in range(6, 12):
        rows.append((i, "der schnelle braune fuchs springt faul hund", "de"))
    rows.append((12, "", "en"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = textstats.dsir_importance_weights(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[12]["dsir_score_micro"] == 0 and by_id[12]["tokens"] == 0
    en = [r["dsir_score_micro"] for r in out if r["lang"] == "en" and r["tokens"]]
    de = [r["dsir_score_micro"] for r in out if r["lang"] == "de"]
    assert min(en) > max(de)
    # identical text => identical integer score (engine-exactness)
    assert len(set(en)) == 1 and len(set(de)) == 1
    # resampling order: scores descending
    scores = [r["dsir_score_micro"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_dsir_weights_partitioning_invariant(spark):
    from commoncrawl_crawler_spark.operators import textstats

    rows = [
        (i, f"tok{i % 7} tok{i % 3} shared common words here", ["en", "fr"][i % 2])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    a = textstats.dsir_importance_weights(df.coalesce(1)).collect()
    b = textstats.dsir_importance_weights(df.repartition(7)).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_stupid_backoff_three_cases_exact(spark):
    """Hand-computed micro-unit scores: one trigram per backoff case
    (seen trigram / seen continuation bigram / unigram floor)."""
    import math

    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [(0, "a b c a b d"), (1, "a b c x"), (3, "x b c")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r
           for r in textstats.stupid_backoff_scores(df).collect()}
    q = lambda x: math.floor(math.log(x) * 1e6 + 0.5)
    A = textstats.BACKOFF_ALPHA_LN_MICRO
    # doc 1: "a b c" seen (c123=1, c12("a b")=2); "b c x" unseen,
    # "c x" unseen -> floor with c(x)=0, T=6, V=4
    s_abc = q(1) - q(2)
    s_bcx = 2 * A + q(0 + 1) - q(6 + 4)
    assert out[1]["n_scored"] == 2
    assert out[1]["neg_logprob_micro"] == -(s_abc + s_bcx)
    assert out[1]["avg_surprisal_micro"] == -(s_abc + s_bcx) // 2
    # doc 3: "x b c" unseen trigram, "b c" seen (1) with c(b)=2
    s_xbc = A + q(1) - q(2)
    assert out[3]["n_scored"] == 1
    assert out[3]["neg_logprob_micro"] == -s_xbc
    # train docs and <3-token docs are absent
    assert set(out) == {1, 3}


def test_quantile_histogram_error_bound_and_merge(spark):
    """Sketch quantiles must sit within one bucket of the exact
    values, and the histogram must be mergeable (cell-wise sum over
    shards equals the whole)."""
    from commoncrawl_crawler_spark.operators import aggregates

    rows = [(i, "a", (i % 100) / 10.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = aggregates.quantile_histogram(df).collect()[0]
    import numpy as np

    vals = np.array([r[2] for r in rows])
    for q, col in [(50, "p50_centi"), (95, "p95_centi"), (99, "p99_centi")]:
        exact = np.percentile(vals, q, method="inverted_cdf")
        approx = out[col] / 100.0
        assert abs(approx - exact) <= 0.01 + 1e-9, (q, approx, exact)
    # partition-layout invariance == mergeability of the histogram
    a = aggregates.quantile_histogram(df.coalesce(1)).collect()
    b = aggregates.quantile_histogram(df.repartition(13)).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_dq_profile_and_constraints_catch_planted_defects(spark):
    """Planted nulls / dupes / bad status / orphan custkey must show
    up with exact violation counts."""
    from commoncrawl_crawler_spark.operators import dataquality

    orders = spark.createDataFrame(
        [
            (1, 10, 5.0, "O", "1-URGENT"),
            (1, 10, 6.0, "F", "2-HIGH"),      # duplicate key
            (2, None, 7.0, "P", "2-HIGH"),    # null custkey
            (3, 99, -1.0, "X", "3-MEDIUM"),   # orphan + bad range + bad status
        ],
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
         "o_orderpriority"],
    )
    customer = spark.createDataFrame([(10,)], ["c_custkey"])
    checks = {r["check"]: (r["violations"], r["passed"])
              for r in dataquality.check_constraints(orders, customer).collect()}
    assert checks == {
        "unique_o_orderkey": (1, False),
        "non_null_o_custkey": (1, False),
        # the null custkey joins nothing -> counted orphan, plus 99
        "orders_custkey_in_customer": (2, False),
        "positive_o_totalprice": (1, False),
        "o_orderstatus_in_OFP": (1, False),
    }
    prof = {r["column"]: r for r in dataquality.profile_table(
        orders, num_cols=["o_custkey"], str_cols=["o_orderstatus"]
    ).collect()}
    assert prof["o_custkey"]["nulls"] == 1
    assert prof["o_custkey"]["n_distinct"] == 2  # 10, 99 (null excluded)
    assert prof["o_custkey"]["min_num"] == 10_000_000
    assert prof["o_orderstatus"]["min_str"] == "F"
    assert prof["o_orderstatus"]["max_str"] == "X"


def test_funnel_strict_ordering_and_transitions(spark):
    """The funnel must require strictly increasing timestamps per
    step; transitions must follow per-user (ts, event_id) order."""
    import datetime as dt

    from commoncrawl_crawler_spark.operators import analytics

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1 completes in order
        (1, 1, t(0), "view"), (2, 1, t(1), "click"), (3, 1, t(2), "purchase"),
        # user 2: purchase BEFORE click -> reaches click only
        (4, 2, t(0), "view"), (5, 2, t(1), "purchase"), (6, 2, t(2), "click"),
        # user 3: click before any view -> reaches view only
        (7, 3, t(0), "click"), (8, 3, t(1), "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    funnel = {r["step"]: r["users_reached"]
              for r in analytics.funnel_counts(df).collect()}
    assert funnel == {"view": 3, "click": 2, "purchase": 1}
    trans = {(r["from_type"], r["to_type"]): r["cnt"]
             for r in analytics.transition_matrix(df).collect()}
    assert trans[("view", "click")] == 1
    assert trans[("view", "purchase")] == 1
    assert trans[("click", "view")] == 1
    assert trans[("purchase", "click")] == 1


def test_cohort_retention_week_buckets(spark):
    import datetime as dt

    from commoncrawl_crawler_spark.operators import analytics

    rows = [
        # user 1: first event Jan 1 (cohort 0), active again day 8 (wk 1)
        (1, 1, dt.datetime(2024, 1, 1), "view"),
        (2, 1, dt.datetime(2024, 1, 9), "view"),
        # user 2: first event Jan 10 (cohort 1), never returns
        (3, 2, dt.datetime(2024, 1, 10), "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    got = {(r["cohort_week"], r["week_offset"]): r["users"]
           for r in analytics.cohort_retention(df).collect()}
    assert got == {(0, 0): 1, (0, 1): 1, (1, 0): 1}


def test_boilerplate_blocks_every_rule_branch(spark):
    from commoncrawl_crawler_spark.operators import textstats

    content = (
        "the quick brown fox jumps over the lazy dog and runs "
        "to the den of a fox"
    )  # 17 words, high stopword density -> content via density rule
    long_tail = " ".join(["token"] * 25)  # 25 words, no stopwords ->
    # content via the >= 20 words rule
    html = (
        "<html><head><title>Doc 9</title></head><body>"
        '<div><a href="/">home</a> <a href="/a">about page</a></div>'
        f"<p>{content}</p>"
        f"<p>{long_tail}</p>"
        "<p>short note</p>"
        '<div>Copyright acme <a href="#">terms</a></div>'
        "</body></html>"
    )
    df = spark.createDataFrame([(9, html)], "doc_id bigint, html string")
    rows = textstats.boilerplate_blocks(df).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    # title (2 words), nav (link-dense), short note, footer -> 4x
    # boilerplate; stopword paragraph + long paragraph -> 2x content
    assert len(by_label["content"]) == 2
    assert len(by_label["boilerplate"]) == 4
    nav = max(rows, key=lambda r: r["link_density_micro"])
    assert nav["label"] == "boilerplate"
    assert nav["link_density_micro"] > 500_000
    dens = [r for r in by_label["content"] if r["stop_density_micro"] >= 300_000]
    assert len(dens) == 1 and dens[0]["n_words"] == 17


def test_span_corruption_t5_layout_by_hand(spark):
    from commoncrawl_crawler_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(17))), (2, "a b")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in textstats.span_corruption(df).collect()}
    # doc 1: spans 0..5; masked spans 0 (t0-2) and 5 (t15-16)
    r = out[1]
    assert (r["n_tokens"], r["n_masked"]) == (17, 5)
    assert r["input_text"] == (
        "<extra_id_0> t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 <extra_id_1>"
    )
    assert r["target_text"] == (
        "<extra_id_0> t0 t1 t2 <extra_id_1> t15 t16 <extra_id_2>"
    )
    # round-trip property: interleaving input and target around the
    # sentinels reconstructs the original text
    r2 = out[2]
    assert r2["input_text"] == "<extra_id_0>"
    assert r2["target_text"] == "<extra_id_0> a b <extra_id_1>"


def test_cube_rollup_margins_are_consistent(spark):
    from commoncrawl_crawler_spark.operators import aggregates

    df = spark.createDataFrame(
        [("O", "1-URGENT", 10.0), ("O", "2-HIGH", 20.0),
         ("F", "1-URGENT", 30.0), ("F", "1-URGENT", 40.0)],
        "o_orderstatus string, o_orderpriority string, o_totalprice double",
    )
    rows = aggregates.cube_rollup(df).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # 3 detail cells, 2 status margins, 2 priority margins, 1 total
    assert [len(by_gid[g]) for g in (0, 1, 2, 3)] == [3, 2, 2, 1]
    total = by_gid[3][0]
    assert (total["n_orders"], total["sum_total"]) == (4, 100.0)
    # each margin equals the sum of its detail cells
    f_margin = [r for r in by_gid[1] if r["o_orderstatus"] == "F"][0]
    assert (f_margin["n_orders"], f_margin["sum_total"]) == (2, 70.0)
    urgent = [r for r in by_gid[2] if r["o_orderpriority"] == "1-URGENT"][0]
    assert (urgent["n_orders"], urgent["sum_total"]) == (3, 80.0)


def test_url_template_summary_collapses_families(spark):
    from commoncrawl_crawler_spark.operators import filters

    urls = [
        "http://a.com/article/1",
        "http://a.com/article/2",
        "http://a.com/article/2",  # duplicate url
        "http://a.com/p/0a1b2c3d4e5f",
        "http://a.com/p/deadbeef0123",
        "http://a.com/about",
        "http://b.com/article/7",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = {
        (r["host"], r["template"]): r
        for r in filters.url_template_summary(df).collect()
    }
    art = rows[("a.com", "/article/N")]
    assert (art["n_urls"], art["n_distinct_urls"]) == (3, 2)
    assert art["example_url"] == "http://a.com/article/1"
    assert rows[("a.com", "/p/H")]["n_urls"] == 2
    assert ("a.com", "/about") in rows
    assert rows[("b.com", "/article/N")]["n_urls"] == 1


def test_session_window_boundary_merges_at_exact_gap(spark):
    # session_window MERGES an event landing exactly at prev + gap
    # (split requires strictly more than the gap), and the session
    # expiry is last event + gap
    import datetime as dt

    from commoncrawl_crawler_spark.operators import windows

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=59)),  # merges (< gap)
        (1, base + dt.timedelta(minutes=119)),  # exactly prev+60: MERGES
        (1, base + dt.timedelta(minutes=180, seconds=1)),  # > gap: NEW
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    out = windows.session_window_stats(df, gap_minutes=60).collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["n_events"],) for r in u1] == [(3,), (1,)]
    assert u1[0]["session_expiry"] == base + dt.timedelta(minutes=179)
    assert u1[1]["session_expiry"] == base + dt.timedelta(
        minutes=240, seconds=1
    )


def test_idna_host_edge_cases():
    from commoncrawl_crawler_spark.functions.urls import idna_host

    assert idna_host("bücher.de") == "xn--bcher-kva.de"
    assert idna_host("WWW.Émile.FR.") == "www.xn--mile-9oa.fr"
    assert idna_host("ascii.com") == "ascii.com"
    assert idna_host("") is None and idna_host(None) is None
    # mixed: only non-ascii labels are encoded
    assert idna_host("www.寿司.jp") == "www.xn--sprr0q.jp"
    # an unencodable label (empty after nameprep) survives verbatim
    assert idna_host("x..y") == "x..y"
