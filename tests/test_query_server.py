"""Query server: driver-sorted entries read by row group, a cache key
that knows its base table, atomic cache publish, and the Spark jobs
each path runs."""

from __future__ import annotations

import datetime as dt
import os
import re
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

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


def _entry_dirs(cache, qid):
    """Directories nested inside an entry (a losing rename's copy)."""
    entry = os.path.join(cache, qid)
    return [n for n in os.listdir(entry) if os.path.isdir(os.path.join(entry, n))]


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


def test_pages_straddle_the_entry_row_groups(spark, tmp_path):
    """An entry of several row groups serves every page, also the ones
    that span a row-group boundary, from the groups that hold it."""
    base = str(tmp_path / "domains")
    n = 2 * query_api.ROW_GROUP_ROWS + 700
    rows = [(f"www.d{i:05d}.com", (i * 7) % 13, i) for i in range(n)]
    _write_base(spark, base, rows)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    df = spark.read.parquet(base)
    pages, size = [], 1500  # no multiple of the row-group size
    for off in range(0, n + size, size):
        info = query_api.ClientQueryInfo("doc_count", False, off, size, "domain")
        pages += _query(srv, df, info)
    (qid,) = _entries(tmp_path / "cache")
    entry = pq.ParquetFile(str(tmp_path / "cache" / qid / query_api.ENTRY_FILE))
    assert entry.metadata.num_row_groups >= 3
    assert pages == _page(rows, query_api.ClientQueryInfo("doc_count", False, 0, n))


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
    assert _entry_dirs(cache, qid) == []


def _result(df):
    """The result a `^www` domain-list query filters from `df`."""
    return df.where("domain RLIKE '^www'")


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
    table = srv._materialize(qid, _result(df), INFO)
    monkeypatch.undo()
    assert [list(r) for r in srv._paginate(table, INFO).collect()] == _page(rows)
    assert [list(r) for r in srv._paginate(qid, INFO).collect()] == _page(rows)
    assert _entries(cache) == [qid]
    assert _entry_dirs(cache, qid) == []


def test_failed_build_leaves_no_entry(spark, tmp_path):
    """The Spark job of a miss fails after some rows: nothing is
    written, and the next miss builds the entry."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    cache = str(tmp_path / "cache")
    srv = query_api.QueryServer(spark, cache)
    df = spark.read.parquet(base)
    qid = query_api.canonical_query_id(df, "domain_list", {"pattern": "^www"}, INFO)

    def fail_after_k_rows(batches):
        for b in batches:
            yield b.iloc[:7]  # k = 7 rows reach the driver
            raise RuntimeError("build failed")

    broken = _result(df).mapInPandas(fail_after_k_rows, df.schema)
    with pytest.raises(Exception, match="build failed"):
        srv._materialize(qid, broken, INFO)
    assert _entries(cache) == []
    assert not srv.cached_results_available(qid)
    assert _query(srv, df) == _page(rows)
    assert _entries(cache) == [qid]


def test_failed_entry_write_leaves_no_entry(spark, tmp_path, monkeypatch):
    """The entry write fails after its first chunk reached the file:
    the temporary sibling is deleted, no entry is published, and the
    next miss builds the entry."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    cache = str(tmp_path / "cache")
    srv = query_api.QueryServer(spark, cache)
    df = spark.read.parquet(base)
    qid = query_api.canonical_query_id(df, "domain_list", {"pattern": "^www"}, INFO)
    real, chunks = query_api._hadoop_path, []

    class Broken:  # an output stream that fails on its second chunk
        def __init__(self, out):
            self.out = out

        def write(self, data):
            if chunks:
                raise OSError("write failed")
            chunks.append(len(data))
            self.out.write(data)

        def close(self):
            self.out.close()

    class FailingFS:
        def __init__(self, fs):
            self.fs = fs

        def create(self, path, overwrite):
            return Broken(self.fs.create(path, overwrite))

        def __getattr__(self, name):
            return getattr(self.fs, name)

    monkeypatch.setattr(query_api, "WRITE_CHUNK", 256)
    monkeypatch.setattr(
        query_api, "_hadoop_path",
        lambda spark, uri: (lambda p, fs: (p, FailingFS(fs)))(*real(spark, uri)),
    )
    with pytest.raises(OSError, match="write failed"):
        srv._materialize(qid, _result(df), INFO)
    monkeypatch.undo()
    assert chunks == [256]
    assert _entries(cache) == []  # no entry and no hidden .tmp sibling
    assert not srv.cached_results_available(qid)
    assert _query(srv, df) == _page(rows)
    assert _entries(cache) == [qid]


def test_cache_miss_runs_one_job(spark, tmp_path, count_jobs):
    """The scan and filter, collected as Arrow; the sort, the entry
    write and the first page run on the driver."""
    base = str(tmp_path / "domains")
    rows = _rows(30)
    _write_base(spark, base, rows)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    df = spark.read.parquet(base)  # its schema inference is no query's job
    page = []
    jobs = count_jobs(lambda: page.extend(_query(srv, df)))
    assert page == _page(rows)
    assert jobs == 1


def test_cache_hit_runs_no_job(spark, tmp_path, count_jobs):
    """The page is read from the entry's row groups on the driver:
    no Spark plan over the base and no job, collecting included."""
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
    assert jobs == 0


# Driver order against Spark's: every value class each sort column can
# hold, with ties among them that the tiebreak (`domain`) resolves.
ORDER_SCHEMA = (
    "domain string, s string, l long, d double, b boolean,"
    " t timestamp, tn timestamp_ntz"
)
_INF, _NAN = float("inf"), float("nan")
_VALUES = {
    # UTF-8 byte order puts U+1F600 after U+FFFF (UTF-16 order would not)
    "s": [None, "b", "a", "\u00e9", "Z", "\uffff", "\U0001f600", "\u65e5\u672c", "a"],
    "l": [None, 3, -2, 0, 3, 9_000_000_000],
    "d": [None, _NAN, 1.5, -_INF, _INF, -0.0, 0.0, -3.0, _NAN, 1.5],
    "b": [None, True, False],
    "t": [None, dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.datetime(1999, 12, 31)],
}


def _order_rows(n=40):
    """`n` rows cycling through `_VALUES` at a different stride per
    column, under unique non-ASCII domains."""
    rows = []
    for i in range(n):
        v = [vals[(i * (k + 2)) % len(vals)] for k, vals in enumerate(_VALUES.values())]
        rows.append((f"w\u00f6rld{(i * 17) % n:02d}", *v, v[-1]))  # t, then tn
    return rows


def _exact(rows):
    """Rows as comparable tuples: repr tells NaN and -0.0 apart."""
    return [tuple(repr(x) for x in r) for r in rows]


@pytest.mark.parametrize("ascending", [True, False])
def test_driver_order_matches_spark_order_by(spark, tmp_path, ascending):
    """The driver's sort gives Spark's `orderBy` order -- ascending
    nulls first, descending nulls last, NaN above +inf, -0.0 tied with
    0.0, strings by UTF-8 bytes -- on the miss and on a later hit, and
    pages keep the result's column names and Spark types."""
    base = str(tmp_path / "order")
    spark.createDataFrame(_order_rows(), ORDER_SCHEMA).write.parquet(base)
    df = spark.read.parquet(base)
    srv = query_api.QueryServer(spark, str(tmp_path / "cache"))
    n = df.count()
    for field in ("s", "l", "d", "b", "t", "tn"):
        key = F.col(field).asc() if ascending else F.col(field).desc()
        want = _exact(df.orderBy(key, F.col("domain").asc()).collect())
        for off, size in ((0, n), (11, 9)):  # the miss, then a hit
            info = query_api.ClientQueryInfo(field, ascending, off, size, "domain")
            page = srv.domain_list_query(df, "^w", info)
            assert _exact(page.collect()) == want[off : off + size], (field, off)
            assert page.select("*").schema.fields == df.schema.fields
    for pattern, off in (("^none", 0), ("^w", n + 5)):  # empty result, past the end
        info = query_api.ClientQueryInfo("d", ascending, off, 5, "domain")
        for _ in range(2):  # the miss, then a hit
            page = srv.domain_list_query(df, pattern, info)
            assert page.collect() == []
            assert page.select("*").schema.fields == df.schema.fields
