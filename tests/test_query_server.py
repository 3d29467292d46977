"""Query server: position-indexed pages, a cache key that knows its
base table, atomic cache publish, and the Spark jobs each path runs."""

from __future__ import annotations

import os
import re
import threading

import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from commoncrawl_crawler_spark.plans import query_api

SCHEMA = "domain string, doc_count long, link_count long"
INFO = query_api.ClientQueryInfo("doc_count", False, 0, 5, "domain")


def _rows(n, salt=0):
    return [(f"www.d{i:02d}.com", (i * 7 + salt) % 11, i) for i in range(n)]


def _write_base(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)


def _page(rows, info=INFO):
    """The page `info` selects, recomputed in Python."""
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    return [list(r) for r in ordered[info.offset : info.offset + info.page_size]]


def _entries(cache):
    return sorted(os.listdir(cache)) if os.path.isdir(cache) else []


def _query(srv, base, info=INFO):
    return [list(r) for r in srv.domain_list_query(base, "^www", info).collect()]


def test_rewritten_base_serves_fresh_pages(spark, tmp_path):
    # inputFiles() escapes these characters; the fingerprint must
    # still find the files
    base = str(tmp_path / "dom ains%")
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    first, second = _rows(12), _rows(12, salt=5)
    _write_base(spark, base, first)
    assert _query(srv, spark.read.parquet(base)) == _page(first)
    _write_base(spark, base, second)  # same path, same query
    assert _query(srv, spark.read.parquet(base)) == _page(second)
    assert len(_entries(tmp_path / "cache")) == 2


def test_in_memory_bases_are_served_uncached(spark, tmp_path):
    cache = tmp_path / "cache"
    srv = query_api.QueryServer(spark, str(cache))
    for rows in (_rows(9), _rows(9, salt=3)):
        base = spark.createDataFrame(rows, SCHEMA)
        assert query_api.canonical_query_id(base, "domain_list", {}, INFO) is None
        assert _query(srv, base) == _page(rows)
    assert _entries(cache) == []


def test_patterns_reach_the_regex_unchanged(spark, tmp_path):
    """The pattern is passed to Spark as an SQL string literal:
    backslashes and quotes must arrive as written."""
    domains = ["www.a.com", "wwwxa.com", "www.a'b.com", "www.a\\b.com"]
    rows = [(d, i, i) for i, d in enumerate(domains)]
    base = spark.createDataFrame(rows, SCHEMA)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    info = query_api.ClientQueryInfo("doc_count", False, 0, 10, "domain")
    for pattern in (r"^www\.a", "a'b", r"a\\b"):
        want = [[d, i, i] for d, i, _ in reversed(rows) if re.search(pattern, d)]
        got = [list(r) for r in srv.domain_list_query(base, pattern, info).collect()]
        assert got == want, pattern


def test_pages_in_order_when_the_entry_is_read_in_splits(spark, tmp_path):
    """A page is served in `_pos` order with no sort, also when the
    entry file has many row groups and Spark reads it in many splits."""
    base = str(tmp_path / "domains")
    rows = [(f"www.d{i:04d}.com", (i * 7) % 13, i) for i in range(2000)]
    _write_base(spark, base, rows)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    df = spark.read.parquet(base)
    small = {
        "parquet.block.size": "4096",
        "spark.sql.files.maxPartitionBytes": "8192",
        "spark.sql.files.openCostInBytes": "0",
    }
    try:
        for k, v in small.items():
            spark.conf.set(k, v)
        pages = []
        for off in range(0, 2000, 250):
            info = query_api.ClientQueryInfo("doc_count", False, off, 250, "domain")
            pages += _query(srv, df, info)
        (qid,) = _entries(tmp_path / "cache")
        entry = spark.read.schema(
            StructType(df.schema.fields + [StructField(query_api.POS, IntegerType())])
        ).parquet(str(tmp_path / "cache" / qid))
        assert entry.rdd.getNumPartitions() > 1
    finally:
        for k in small:
            spark.conf.unset(k)
    assert pages == _page(rows, query_api.ClientQueryInfo("doc_count", False, 0, 2000))


def test_concurrent_misses_publish_one_entry(spark, tmp_path):
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    cache = str(tmp_path / "cache")
    qid = query_api.canonical_query_id(
        spark.read.parquet(base), "domain_list", {"pattern": "^www"}, INFO
    )
    barrier = threading.Barrier(4)
    pages, errors = {}, []

    def client(t):
        try:
            srv = query_api.QueryServer(spark, cache)
            df = spark.read.parquet(base)
            barrier.wait(timeout=60)
            pages[t] = _query(srv, df)
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert pages == {t: _page(rows) for t in range(4)}
    # exactly one entry, no temporary sibling, nothing nested inside it
    assert _entries(cache) == [qid]
    entry = os.path.join(cache, qid)
    assert not [n for n in os.listdir(entry) if os.path.isdir(os.path.join(entry, n))]


def _indexed(df):
    """`df` with the position column a miss writes for INFO's order."""
    return df.withColumn(
        query_api.POS,
        F.row_number().over(Window.orderBy(F.col("doc_count").desc(), "domain")) - 1,
    )


def test_losing_rename_discards_its_nested_copy(spark, tmp_path, monkeypatch):
    """A client that checked for the entry just before another client
    published it renames onto the winner's directory, which nests its
    copy inside; it deletes that copy and the winner's entry stands."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    cache = str(tmp_path / "cache")
    srv = query_api.QueryServer(spark, cache)
    df = spark.read.parquet(base)
    assert _query(srv, df) == _page(rows)  # the winner publishes
    qid = query_api.canonical_query_id(df, "domain_list", {"pattern": "^www"}, INFO)
    real = query_api._hadoop_path

    class Late:  # a file system view from before the winner's rename
        def __init__(self, fs):
            self.fs = fs

        def exists(self, path):
            return False

        def __getattr__(self, name):
            return getattr(self.fs, name)

    monkeypatch.setattr(
        query_api, "_hadoop_path",
        lambda spark, uri: (lambda p, fs: (p, Late(fs)))(*real(spark, uri)),
    )
    cached = srv._materialize(qid, _indexed(df))
    monkeypatch.undo()
    assert [list(r) for r in srv._paginate(cached, INFO).collect()] == _page(rows)
    assert _entries(cache) == [qid]
    entry = os.path.join(cache, qid)
    assert not [n for n in os.listdir(entry) if os.path.isdir(os.path.join(entry, n))]


def test_failed_build_leaves_no_entry(spark, tmp_path):
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    cache = str(tmp_path / "cache")
    srv = query_api.QueryServer(spark, cache)
    df = spark.read.parquet(base)
    qid = query_api.canonical_query_id(df, "domain_list", {"pattern": "^www"}, INFO)
    indexed = _indexed(df)

    def fail_after_k_rows(batches):
        for b in batches:
            yield b.iloc[:7]  # k = 7 rows reach the writer
            raise RuntimeError("build failed")

    broken = indexed.mapInPandas(fail_after_k_rows, indexed.schema)
    with pytest.raises(Exception, match="build failed"):
        srv._materialize(qid, broken)
    assert _entries(cache) == []
    assert not srv.cached_results_available(qid)
    assert _query(srv, df) == _page(rows)
    assert _entries(cache) == [qid]


def test_cache_miss_runs_at_most_three_jobs(spark, tmp_path, count_jobs):
    """Exchange into the window, write, page read; nothing reads the
    entry back to infer its schema."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    df = spark.read.parquet(base)  # its schema inference is no query's job
    page = []
    jobs = count_jobs(lambda: page.extend(_query(srv, df)))
    assert page == _page(rows)
    assert jobs <= 3


def test_cache_hit_runs_one_job(spark, tmp_path, count_jobs):
    """The page is a `_pos` range filter over the entry, read with a
    known schema: no re-sort and no schema-inference job."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    df = spark.read.parquet(base)
    _query(srv, df)  # the miss
    info = query_api.ClientQueryInfo("doc_count", False, 5, 5, "domain")
    page = []
    jobs = count_jobs(lambda: page.extend(_query(srv, df, info)))
    assert page == _page(rows, info)
    assert jobs <= 1
