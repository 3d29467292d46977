"""SURT keys, CDX index generation, n-gram language ID."""

from __future__ import annotations

import glob
import os
import zlib

import pyspark.sql.functions as F

from commoncrawl_crawler_spark.functions import urls as urlfn
from commoncrawl_crawler_spark.operators import textstats
from commoncrawl_crawler_spark.sources import archive


# ---- SURT ------------------------------------------------------------


def test_surt_key_vectors(spark):
    cases = [
        ("http://www.Example.COM/Path?q=1", "com,example)/path?q=1"),
        ("https://a.b.example.org/", "org,example,b,a)/"),
        ("http://example.com", "com,example)/"),
        ("http://example.com/x#frag", "com,example)/x"),
        ("http://example.com:8080/y", "com,example)/y"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r[0]
        for r in df.select(urlfn.surt_key_expr(F.col("url"))).collect()
    ]
    assert got == [want for _, want in cases]


# ---- CDX -------------------------------------------------------------


def _write_warc(spark, tmpdir, rows):
    df = spark.createDataFrame(
        rows,
        "warc_type string, record_id string, target_uri string,"
        " warc_date string, content_type string, block binary",
    )
    archive.write_warc(df, str(tmpdir))
    return archive.read_warc(spark, str(tmpdir))


def test_cdx_index_columns_and_sort(spark, tmp_path):
    rows = [
        (
            "response",
            f"<urn:uuid:{i}>",
            f"http://www.h{9 - i}.example.com/doc/{i}",
            f"2024-02-0{i + 1}T00:00:0{i}Z",
            "text/html",
            f"payload-{i}".encode(),
        )
        for i in range(3)
    ]
    idx = archive.cdx_index(_write_warc(spark, tmp_path, rows)).collect()
    assert len(idx) == 3
    # sorted by SURT urlkey: h7 < h8 < h9 hosts reversed
    assert [r["urlkey"] for r in idx] == sorted(r["urlkey"] for r in idx)
    r0 = idx[0]
    assert r0["urlkey"].startswith("com,example,h7)")
    assert r0["timestamp"] == "20240203000002"  # digits of the date
    assert r0["mime"] == "text/html"
    assert len(r0["digest"]) == 64  # sha256 hex
    # length is the COMPRESSED member size (CDXJ ranged-GET contract),
    # so it exceeds zero and is validated byte-exactly in the seek test
    assert r0["length"] > 0
    assert r0["filename"].endswith(".warc.gz")


def test_cdx_offsets_seek_back_to_the_record(spark, tmp_path):
    rows = [
        (
            "response",
            f"<urn:uuid:{i}>",
            f"http://example.com/doc/{i}",
            "2024-02-01T00:00:00Z",
            "text/plain",
            (b"x" * (100 + i)),
        )
        for i in range(5)
    ]
    idx = archive.cdx_index(_write_warc(spark, tmp_path, rows)).collect()
    files = {p.split("/")[-1]: p for p in glob.glob(f"{tmp_path}/*.warc.gz")}
    for r in idx:
        blob = open(files[r["filename"]], "rb").read()
        # the ranged-GET contract: [offset, offset+length) is EXACTLY
        # one self-terminating gzip member -- no trailing bytes, and
        # the slice alone inflates the whole record
        ranged = blob[r["offset"]:r["offset"] + r["length"]]
        d = zlib.decompressobj(wbits=31)
        member = d.decompress(ranged)
        assert d.eof and d.unused_data == b""
        assert f"WARC-Target-URI: {r['original']}".encode() in member
        # the ranged-GET reader consumes the same pointer directly
        wt, _, uri, *_ = archive.read_member_at(
            files[r["filename"]], r["offset"], "warc", length=r["length"]
        )
        assert (wt, uri) == ("response", r["original"])
    # every record accounted for exactly once
    assert len({(r["filename"], r["offset"]) for r in idx}) == 5


def test_cdx_skips_non_response_records(spark, tmp_path):
    rows = [
        (
            "warcinfo",
            "<urn:uuid:info>",
            "http://example.com/",
            "2024-02-01T00:00:00Z",
            "application/warc-fields",
            b"software: test",
        ),
        (
            "response",
            "<urn:uuid:1>",
            "http://example.com/a",
            "2024-02-01T00:00:00Z",
            "text/html",
            b"hello",
        ),
    ]
    idx = archive.cdx_index(_write_warc(spark, tmp_path, rows)).collect()
    assert len(idx) == 1
    assert idx[0]["original"] == "http://example.com/a"


# ---- n-gram langid ---------------------------------------------------


def test_langid_separable_corpus_perfect_diagonal(spark):
    # trigram-disjoint languages classify perfectly
    texts = {
        "aa": "abc abc abc abcabc",
        "bb": "xyz xyz xyz xyzxyz",
        "cc": "qqq qqq qqq qqqqqq",
    }
    rows = [
        (i * 10 + j, lang, t)
        for i, (lang, t) in enumerate(sorted(texts.items()))
        for j in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    conf = {
        (r["lang"], r["pred_lang"]): r["cnt"]
        for r in textstats.langid_ngram_confusion(docs).collect()
    }
    assert conf == {("aa", "aa"): 3, ("bb", "bb"): 3, ("cc", "cc"): 3}


def test_langid_short_docs_classify_und(spark):
    docs = spark.createDataFrame(
        [(1, "en", "ab"), (2, "en", "real text with trigrams")],
        "doc_id long, lang string, text string",
    )
    conf = {
        (r["lang"], r["pred_lang"]): r["cnt"]
        for r in textstats.langid_ngram_confusion(docs).collect()
    }
    assert conf[("en", "und")] == 1  # too short for any trigram
    assert conf[("en", "en")] == 1


def test_langid_tie_breaks_to_lexicographic_lang(spark):
    # one doc per lang with IDENTICAL text: every doc ties across both
    # language profiles; argmin must break to the smaller lang name
    docs = spark.createDataFrame(
        [(1, "de", "same text here"), (2, "fr", "same text here")],
        "doc_id long, lang string, text string",
    )
    conf = {
        (r["lang"], r["pred_lang"]): r["cnt"]
        for r in textstats.langid_ngram_confusion(docs).collect()
    }
    assert conf == {("de", "de"): 1, ("fr", "de"): 1}


# ---- sharded CDX layout (cluster.idx) ---------------------------------


def _demo_index(spark, n=40):
    rows = [
        (
            f"com,h{i:02d})/doc/{i}",
            f"202402{i % 28 + 1:02d}000000",
            f"http://h{i:02d}.com/doc/{i}",
            "text/html",
            "d" * 64,
            10 + i,
            100 * i,
            "f.warc.gz",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "urlkey string, timestamp string, original string, mime string,"
        " digest string, length long, offset long, filename string",
    )


def test_write_cdx_shards_sorted_with_cluster_idx(spark, tmp_path):
    archive.write_cdx(_demo_index(spark), str(tmp_path), shards=4)
    idx_lines = open(tmp_path / "cluster.idx").read().splitlines()
    assert 1 <= len(idx_lines) <= 4
    firsts = [ln.split("\t")[0] for ln in idx_lines]
    assert firsts == sorted(firsts)  # shard ranges ascend
    all_keys = []
    for ln in idx_lines:
        fname = ln.split("\t")[1]
        keys = [
            line.split(" ")[0]
            for line in open(tmp_path / fname).read().splitlines()
        ]
        assert keys == sorted(keys)  # sorted within shard
        all_keys.extend(keys)
    assert all_keys == sorted(all_keys)  # globally sorted across shards
    assert len(all_keys) == 40


def _count_shard_opens(monkeypatch) -> list[str]:
    """Record every CDX shard file `archive` opens from now on."""
    opened: list[str] = []

    def counting_open(file, *args, **kwargs):
        if os.path.basename(str(file)).startswith("cdx-"):
            opened.append(str(file))
        return open(file, *args, **kwargs)

    monkeypatch.setattr(archive, "open", counting_open, raising=False)
    return opened


def test_cdx_lookup_finds_capture_and_prunes_to_one_shard(
    spark, tmp_path, monkeypatch
):
    archive.write_cdx(_demo_index(spark), str(tmp_path), shards=4)
    opened = _count_shard_opens(monkeypatch)
    hit = archive.cdx_lookup(spark, str(tmp_path), "http://h17.com/doc/17")
    rows = hit.collect()
    assert len(rows) == 1
    assert rows[0]["urlkey"] == "com,h17)/doc/17"
    assert '"offset":1700' in rows[0]["meta_json"]
    # the lookup reads exactly ONE shard file
    assert len(opened) == 1


def test_cdx_lookup_key_before_first_shard_returns_empty(spark, tmp_path):
    archive.write_cdx(_demo_index(spark), str(tmp_path), shards=2)
    miss = archive.cdx_lookup(spark, str(tmp_path), "http://aaa.aa/x")
    assert miss.count() == 0


def _straddle_index(spark):
    """One urlkey with 20 captures between two single-capture keys."""
    rows = [
        (
            "com,hot)/x",
            f"2024020100{i:04d}"[:14].ljust(14, "0"),
            "http://hot.com/x",
            "text/html",
            "d" * 64,
            1,
            i,
            "f.warc.gz",
        )
        for i in range(20)
    ] + [
        (
            f"com,{side})/y",
            "20240201000000",
            f"http://{side}.com/y",
            "text/html",
            "d" * 64,
            1,
            0,
            "f.warc.gz",
        )
        for side in ("aaa", "zzz")
    ]
    return spark.createDataFrame(
        rows,
        "urlkey string, timestamp string, original string, mime string,"
        " digest string, length long, offset long, filename string",
    )


def test_cdx_lookup_collects_captures_straddling_shards(spark, tmp_path):
    # one urlkey with 20 captures among 4 shards: the range
    # partitioner splits on (urlkey, timestamp), so the captures can
    # straddle shard boundaries; lookup must walk back and return all
    archive.write_cdx(_straddle_index(spark), str(tmp_path), shards=4)
    hit = archive.cdx_lookup(spark, str(tmp_path), "http://hot.com/x")
    got = hit.collect()
    assert len(got) == 20
    ts = [r["timestamp"] for r in got]
    assert ts == sorted(ts)


def _spark_scan_lookups(spark, path, urls):
    """url -> its captures, found the Spark way: read.text over every
    shard of a write_cdx layout, keyed by surt_key_expr, filtered to
    the URL's key and sorted."""
    parts = F.split(F.col("value"), " ", 3)
    lines = spark.read.text(glob.glob(os.path.join(path, "cdx-*.txt"))).select(
        F.get(parts, 0).alias("urlkey"),
        F.get(parts, 1).alias("timestamp"),
        F.get(parts, 2).alias("meta_json"),
    )
    keys = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", urlfn.surt_key_expr(F.col("url")).alias("urlkey")
    )
    got = {u: [] for u in urls}
    for r in (
        keys.join(lines, "urlkey")
        .orderBy("url", "timestamp", "meta_json")
        .collect()
    ):
        got[r["url"]].append((r["urlkey"], r["timestamp"], r["meta_json"]))
    return got


def _generated_segment_urls(tmp_path, pages=60):
    from perfbench import gen

    man = gen.Generator(7, pages=pages, files=2, hosts=25).build(str(tmp_path))
    return os.path.join(str(tmp_path), "segment"), [
        p.url for p in man.pages.values()
    ]


_SURT_EDGE_URLS = [
    "HTTP://WWW.EXAMPLE.COM/A/B?X=Y",
    "http://www.example.com",
    "http://www.www.example.com/",
    "http://example.com?q=1",
    "http://example.com/path?a=1&b=2",
    "http://example.com/a#frag",
    "http://example.com#frag",
    "http://example.com/a?b=1#c",
    "http://example.com:8080/x",
    "https://www.example.com:443",
    "http://example.com./trailing",
    "http://user@example.com/",
    "ftp://files.example.org/pub",
    "http://www.Bücher.DE/Straße",
    "http://ΠΑΡΑΔΕΙΓΜΑ.ΔΟΚΙΜΗ/ΣΟΦΟΣ",
    "http://İstanbul.example.tr/",
    "http://例子.测试/路径?查询=1",
    "http://xn--bcher-kva.de/",
    "example.com/no-scheme",
    "",
]


def test_surt_key_matches_spark_expr(spark, tmp_path):
    """The driver-side surt_key equals the Column expression write_cdx
    keys with, on every URL of a generated segment and on edge cases."""
    _, urls = _generated_segment_urls(tmp_path)
    urls += _SURT_EDGE_URLS
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    want = [
        r[0] for r in df.select(urlfn.surt_key_expr(F.col("url"))).collect()
    ]
    assert [urlfn.surt_key(u) for u in urls] == want


def test_cdx_driver_lookup_matches_spark_scan(spark, tmp_path):
    """Every URL of a generated segment, and the straddling-shard
    layout: the driver lookup returns exactly the rows a Spark scan,
    filter and sort of the same shards returns."""
    seg, urls = _generated_segment_urls(tmp_path / "in")
    layout = str(tmp_path / "cdx")
    archive.write_cdx(
        archive.cdx_index(archive.read_warc(spark, seg)), layout, shards=4
    )
    straddle = tmp_path / "straddle"
    archive.write_cdx(_straddle_index(spark), str(straddle), shards=4)
    hot_shards = [
        f for f in straddle.glob("cdx-*.txt") if "com,hot)/x " in f.read_text()
    ]
    assert len(hot_shards) >= 2  # the case under test: the key straddles
    for path, lookups in (
        (layout, urls + ["http://absent.example/"]),
        (str(straddle), ["http://hot.com/x", "http://aaa.com/y",
                         "http://zzz.com/y", "http://mid.com/"]),
    ):
        want = _spark_scan_lookups(spark, path, lookups)
        assert sum(map(bool, want.values())) == len(lookups) - 1
        for u in lookups:
            got = [tuple(r) for r in archive.cdx_lookup(spark, path, u).collect()]
            assert got == want[u], u


def test_cdx_lookup_runs_no_spark_job(spark, tmp_path, count_jobs):
    archive.write_cdx(_demo_index(spark), str(tmp_path), shards=4)
    for url, n in (
        ("http://h17.com/doc/17", 1),  # a capture
        ("http://h17.com/doc/18", 0),  # inside a shard's range, absent
        ("http://aaa.aa/x", 0),  # before the first shard
    ):
        rows = []
        jobs = count_jobs(
            lambda: rows.extend(
                archive.cdx_lookup(spark, str(tmp_path), url).collect()
            )
        )
        assert (jobs, len(rows)) == (0, n), url


def test_fetch_plan_ranges_read_back_as_whole_member_runs(spark, tmp_path):
    """End-to-end pointer contract: WARC on disk -> CDX pointers ->
    fetch_plan -> every merged range, read as ONE byte slice, walks
    back into exactly n_records complete gzip members (the bulk
    ranged-GET a re-processing job issues)."""
    rows = [
        (
            "response",
            f"<urn:uuid:{i}>",
            f"http://example.com/doc/{i}",
            "2024-02-01T00:00:00Z",
            "text/plain",
            (b"y" * (80 + 7 * i)),
        )
        for i in range(12)
    ]
    idx = archive.cdx_index(_write_warc(spark, tmp_path, rows))
    plan = archive.fetch_plan(
        idx.select("filename", "offset", "length"), merge_gap=0
    ).collect()
    files = {p.split("/")[-1]: p for p in glob.glob(f"{tmp_path}/*.warc.gz")}
    total_records = 0
    for r in plan:
        assert r["wasted_bytes"] == 0  # gap 0: ranges are exact runs
        blob = open(files[r["filename"]], "rb").read()
        sl = blob[r["range_start"]:r["range_end"]]
        assert len(sl) == r["record_bytes"]
        n = 0
        pos = 0
        while pos < len(sl):
            d = zlib.decompressobj(wbits=31)
            d.decompress(sl[pos:])
            assert d.eof
            pos = len(sl) - len(d.unused_data)
            n += 1
        assert n == r["n_records"]
        total_records += n
    assert total_records == 12
    # with an unbounded gap every file collapses to ONE range
    one = archive.fetch_plan(
        idx.select("filename", "offset", "length"), merge_gap=1 << 40
    ).collect()
    assert len(one) == len({r["filename"] for r in plan})


def test_read_warc_ranges_matches_full_scan_and_rejects_stale_plans(
    spark, tmp_path
):
    import pytest

    rows = [
        (
            "response",
            f"<urn:uuid:{i}>",
            f"http://example.com/doc/{i}",
            "2024-02-01T00:00:00Z",
            "text/plain",
            (b"z" * (60 + 9 * i)),
        )
        for i in range(10)
    ]
    full = _write_warc(spark, tmp_path, rows)
    idx = archive.cdx_index(full)
    plan = archive.fetch_plan(
        idx.select("filename", "offset", "length"), merge_gap=1 << 20
    )
    got = archive.read_warc_ranges(spark, plan, str(tmp_path))
    # identical rows to the full scan (offsets rebased to the file)
    key = lambda df: sorted(
        (r["record_id"], r["member_offset"], r["member_length"],
         bytes(r["block"]))
        for r in df.collect()
    )
    assert key(got) == key(full)
    # a stale plan (range claims one more record than the bytes hold)
    bad = plan.selectExpr(
        "filename", "range_start", "range_end", "n_records + 1 AS n_records"
    )
    with pytest.raises(Exception, match="stale fetch plan"):
        archive.read_warc_ranges(spark, bad, str(tmp_path)).collect()


def _shard_lines(path):
    out = []
    for ln in open(path / "cluster.idx").read().splitlines():
        out.extend(open(path / ln.split("\t")[1]).read().splitlines())
    return out


def test_write_cdx_shards_in_order_equal_cdx_index_order(spark, tmp_path):
    rows = [
        (
            "response",
            f"<urn:uuid:{i}>",
            f"http://h{(i * 7) % 13}.example.com/doc/{i % 5}",
            f"2024-02-{i % 3 + 1:02d}T00:00:{i:02d}Z",
            "text/html",
            f"payload-{i}".encode(),
        )
        for i in range(30)
    ]
    idx = archive.cdx_index(_write_warc(spark, tmp_path / "warc", rows))
    archive.write_cdx(idx, str(tmp_path / "cdx"), shards=3)
    want = [
        f"{r['urlkey']} {r['timestamp']} {r['meta']}"
        for r in idx.select(
            "urlkey", "timestamp",
            F.to_json(
                F.struct(
                    "original", "mime", "digest", "length", "offset",
                    "filename",
                )
            ).alias("meta"),
        ).collect()
    ]
    assert _shard_lines(tmp_path / "cdx") == want


def test_write_cdx_more_shards_than_rows_writes_no_empty_shard(
    spark, tmp_path
):
    archive.write_cdx(_demo_index(spark, n=3), str(tmp_path), shards=8)
    idx_lines = open(tmp_path / "cluster.idx").read().splitlines()
    files = sorted(p.name for p in tmp_path.glob("cdx-*.txt"))
    # every written shard holds a line and has one cluster.idx entry
    assert sorted(ln.split("\t")[1] for ln in idx_lines) == files
    assert all(open(tmp_path / f).read().strip() for f in files)
    assert len(_shard_lines(tmp_path)) == 3
    assert not list(tmp_path.glob(".*.tmp"))
