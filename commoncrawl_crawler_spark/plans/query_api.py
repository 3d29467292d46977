"""Interactive query lifecycle: filter -> sort on the driver -> cache -> page.

Reference (SURVEY.md section 3.1): the query server's whole
scatter/gather machinery -- servlet builds a Query + ClientQueryInfo
(sort field/order/offset/pageSize, service/queryserver/
queryserver.jr:50-62), master checks `cachedResultsAvailable()`
keyed by `getCanonicalId()` (query/DomainListQuery.java:91,444-456),
slaves scan their shards (regex match, index/DatabaseIndexV2.java:
961-1028), the master k-way-merges + re-sorts into a
position-indexed file, pages served via readPaginatedResults
(index/PositionBasedSequenceFileIndex.java:229-264).

Spark-first: the scatter and per-shard scan become
`df.filter(...)`; the merge, the position-indexed file and the page
reads stay on the driver, where the reference's master did them, so
the only Spark work a query runs is collecting its filtered result
(one job over a parquet base), and a cache hit runs none.

- *Miss.* The filtered result comes to the driver as one Arrow table
  (`toArrow()`: one job, the scan and filter parallel on the
  executors, no exchange), is sorted there in the query's order with
  Spark's `orderBy` semantics (`_sorted`) and is written as one
  parquet file. A row's index in that file is its position. The
  miss's page is sliced from the table in memory. Like the
  reference master's merge, the result funnels through the driver:
  it is bounded by `spark.driver.maxResultSize`, and a result over
  that bound fails in Spark before anything is written.
- *Hit.* No Spark plan and no job: the driver reads the entry's
  footer through the Hadoop FS API, picks the row groups that hold
  rows `[offset, offset + page_size)` from their row counts and
  reads only those. Every page is a DataFrame over local Arrow rows,
  like `archive.cdx_lookup`'s. Distinct sort orders cache
  separately, like the reference's pre-sorted NAME / PAGERANK index
  variants (query/DomainURLListQuery.java).
- *Cache key.* `canonical_query_id` hashes the query's parameters
  (minus offset and page size: every page of one query shares an
  entry) with `base_fingerprint`, the names, sizes and modification
  times of the files the base table reads. A rewritten base gets new
  entries instead of stale pages. A base that reads no file (built
  in memory) has no fingerprint: it is sorted and paged the same
  way, and nothing is written.
- *Atomic publish.* A miss writes its entry to a hidden temporary
  sibling and publishes it with one rename, so a reader sees a whole
  entry or none, and a build or write that fails leaves nothing
  behind. Clients that miss on the same id at once each build a
  copy; the first rename wins and the others discard theirs.
"""

from __future__ import annotations

import hashlib
import json
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

ENTRY_FILE = "part-00000.parquet"  # the one data file of a cache entry
# Rows per row group of an entry file. A page of up to this many rows
# then spans at most two groups, so a page read decodes at most two
# groups whatever the entry's size. Larger groups make every page read
# decode more rows; smaller ones grow the footer each read parses.
ROW_GROUP_ROWS = 4096
# Bytes per gateway call when an entry file is written through the
# Hadoop FS API: the file is encoded in memory and sent in chunks this
# large, not in one call per pyarrow write.
WRITE_CHUNK = 4 << 20
# The result's Spark schema, kept in the Arrow schema metadata of an
# entry: a page gets the result's exact Spark types back without
# planning anything (read from Arrow alone, TIMESTAMP_NTZ comes back
# as TIMESTAMP).
_SCHEMA_KEY = b"ccspark.spark_schema"


@dataclass(frozen=True)
class ClientQueryInfo:
    """Sort/pagination spec (queryserver.jr:50-62 analog)."""

    sort_field: str
    ascending: bool = True
    offset: int = 0
    page_size: int = 25
    tiebreak: str | None = None


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    # bound by name: resolving a class through `spark._jvm` costs a
    # gateway round trip per package level, about 1.5 ms a query
    return JavaClass(name, spark._jvm._gateway_client)


def _hadoop_path(spark: SparkSession, uri):
    """(Hadoop Path, its FileSystem) for a Spark-readable path string
    or a java.net.URI."""
    path = _jclass(spark, "org.apache.hadoop.fs.Path")(uri)
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


def base_fingerprint(base: DataFrame) -> str | None:
    """Hash of the files `base` reads -- every `inputFiles()` entry
    with its size and modification time, read through the Hadoop FS
    API -- or None when it reads none (an in-memory base)."""
    spark, files = base.sparkSession, []
    for uri in sorted(base.inputFiles()):  # URI-escaped, not path strings
        path, fs = _hadoop_path(spark, _jclass(spark, "java.net.URI")(uri))
        status = fs.getFileStatus(path)
        files.append((uri, status.getLen(), status.getModificationTime()))
    if not files:
        return None
    return hashlib.sha256(json.dumps(files).encode()).hexdigest()


def canonical_query_id(
    base: DataFrame, query_type: str, params: dict, info: ClientQueryInfo
) -> str | None:
    """Stable id of a query over `base` -- Query.getCanonicalId().

    Hashes the query's own parameters, the sort spec of `info` and
    `base_fingerprint(base)`. Pagination params are excluded on
    purpose: every page of the same logical query hits the same
    cached result. None (the query is not cached) when `base` reads
    no file: with nothing to fingerprint, two different in-memory
    bases would share an entry.
    """
    fingerprint = base_fingerprint(base)
    if fingerprint is None:
        return None
    blob = json.dumps(
        {
            "type": query_type,
            "params": params,
            "sort": info.sort_field,
            "asc": info.ascending,
            "tiebreak": info.tiebreak,
            "base": fingerprint,
        },
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:24]


# Query filters are SQL strings: the Column API costs about eight
# gateway round trips per function (origin tracking) where a string
# costs one for the whole operator. On a 4-core VM the domain filter
# took 7.6 ms to build as Column calls and 4.0 ms as a string.


def _sql_string(value: str) -> str:
    """`value` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sorted(table: pa.Table, info: ClientQueryInfo) -> pa.Table:
    """`table` in the order Spark's `orderBy` gives it for `info`: the
    sort field in its direction, then the tiebreak ascending.

    Spark puts nulls first ascending and last descending and ranks NaN
    above every number; Arrow's `null_placement` puts NaN beside the
    nulls instead. So every key is preceded by a class key (null 0,
    number 1, NaN 2) sorted in the same direction. -0.0 and 0.0 tie,
    as in Spark, and strings compare by UTF-8 bytes in both."""
    spec = [(info.sort_field, info.ascending)]
    if info.tiebreak:
        spec.append((info.tiebreak, True))
    cols, keys = [], []
    for name, ascending in spec:
        col = table[name]
        cls = pc.if_else(pc.is_valid(col), 1, 0)
        if pa.types.is_floating(col.type):
            cls = pc.if_else(pc.fill_null(pc.is_nan(col), False), 2, cls)
        order = "ascending" if ascending else "descending"
        keys += [(str(len(cols)), order), (str(len(cols) + 1), order)]
        cols += [cls, col]
    by = pa.table(cols, names=[str(i) for i in range(len(cols))])
    return table.take(pc.sort_indices(by, sort_keys=keys))


class _HadoopInput:
    """A read-only, seekable Python file over a Hadoop
    FSDataInputStream of `size` bytes, for pyarrow. Bytes come back as
    the return value of `IOUtils.toByteArray`: py4j copies a byte[]
    argument, so a buffer handed to the stream's own `read` would be
    filled on the Java side only."""

    closed = False

    def __init__(self, spark: SparkSession, stream, size: int):
        self._io = _jclass(spark, "org.apache.commons.io.IOUtils")
        self._stream, self._size, self._pos = stream, size, 0

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        self._pos = (0, self._pos, self._size)[whence] + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        left = self._size - self._pos
        n = left if n < 0 else min(n, left)
        if n <= 0:
            return b""
        self._stream.seek(self._pos)
        data = self._io.toByteArray(self._stream, n)
        self._pos += n
        return data


class QueryServer:
    """Result-cached interactive queries over a base DataFrame source.

    `cache_dir` is any Hadoop-writable URI (local path here; an
    object-store prefix on a cluster). An entry is the sorted result
    of one canonical id (query parameters + base fingerprint),
    `<cache_dir>/<id>/part-00000.parquet`, published whole with its
    `_SUCCESS` marker by one rename (`_publish`). A miss runs one
    Spark job (`_materialize`); a page read (`_paginate`) runs none.
    Entries are post-filter, so they are small beside the base tables,
    and a page read never touches base data.
    """

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir

    def _cache_path(self, qid: str) -> str:
        # URI-style join, not os.path.join: cache_dir may be an
        # object-store prefix (s3a://..., abfss://...) where the
        # separator is always '/'
        return f"{self.cache_dir.rstrip('/')}/{qid}"

    def cached_results_available(self, qid: str) -> bool:
        # _SUCCESS marker = fully written entry, mirroring
        # cachedResultsAvailable()'s file-exists check. Resolved
        # through the Hadoop FileSystem API so the check is
        # scheme-correct on ANY Spark-writable URI (s3a/abfss/hdfs/
        # file) -- os.path.exists would silently report False off the
        # local filesystem and the cache would never hit.
        marker, fs = _hadoop_path(
            self.spark, f"{self._cache_path(qid)}/_SUCCESS"
        )
        return bool(fs.exists(marker))

    def _materialize(
        self, qid: str | None, result: DataFrame, info: ClientQueryInfo
    ) -> pa.Table:
        """`result` on the driver, sorted in `info`'s order, carrying
        its Spark schema; published as qid's cache entry unless qid is
        None. One Spark job: `toArrow()`."""
        table = _sorted(result.toArrow(), info).replace_schema_metadata(
            {_SCHEMA_KEY: result.schema.json()}
        )
        if qid is not None:
            self._publish(qid, table)
        return table

    def _publish(self, qid: str, table: pa.Table) -> None:
        """Write `table` as the data file of a hidden temporary sibling
        of qid's entry, mark it complete and rename it into place.
        Never renames onto an existing entry: Hadoop's rename would
        nest the source inside it. If another client publishes between
        the check and the rename, the rename nests this copy (hidden,
        so no reader lists it) and it is deleted; the winner's entry
        stands."""
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, row_group_size=ROW_GROUP_ROWS)
        data = sink.getvalue()
        name = f".{qid}-{uuid.uuid4().hex}.tmp"
        tmp, final = self._cache_path(name), self._cache_path(qid)
        tmp_path, fs = _hadoop_path(self.spark, tmp)
        child = _jclass(self.spark, "org.apache.hadoop.fs.Path")
        try:
            out = fs.create(child(tmp_path, ENTRY_FILE), False)
            try:
                for i in range(0, data.size, WRITE_CHUNK):
                    out.write(data[i : i + WRITE_CHUNK].to_pybytes())
            finally:
                out.close()
            fs.create(child(tmp_path, "_SUCCESS"), False).close()
        except BaseException:
            fs.delete(tmp_path, True)
            raise
        final_path, _ = _hadoop_path(self.spark, final)
        if fs.exists(final_path) or not fs.rename(tmp_path, final_path):
            fs.delete(tmp_path, True)
        else:
            fs.delete(_hadoop_path(self.spark, f"{final}/{name}")[0], True)

    def _read_entry(self, qid: str, offset: int, n: int) -> pa.Table:
        """Rows `[offset, offset + n)` of qid's entry: its footer, then
        only the row groups that hold them, through the Hadoop FS API."""
        path, fs = _hadoop_path(
            self.spark, f"{self._cache_path(qid)}/{ENTRY_FILE}"
        )
        size = fs.getFileStatus(path).getLen()
        stream = fs.open(path)
        try:
            entry = pq.ParquetFile(
                pa.PythonFile(_HadoopInput(self.spark, stream, size), mode="r")
            )
            meta, starts = entry.metadata, [0]  # first row of each group
            for g in range(meta.num_row_groups):
                starts.append(starts[-1] + meta.row_group(g).num_rows)
            groups = [
                g
                for g in range(meta.num_row_groups)
                if starts[g] < offset + n and offset < starts[g + 1]
            ]
            if not groups:
                return entry.schema_arrow.empty_table()
            return entry.read_row_groups(groups, use_threads=False).slice(
                offset - starts[groups[0]], n
            )
        finally:
            stream.close()

    def _paginate(
        self, rows: pa.Table | str, info: ClientQueryInfo
    ) -> DataFrame:
        """Rows `offset`.. of a sorted result: sliced from it when
        `rows` is the result in memory, read from the row groups of
        its cache entry when `rows` is the entry's id. The page is a
        DataFrame over local rows with the result's Spark schema: no
        Spark scan is planned and collecting it runs no job."""
        lo, n = info.offset, info.page_size
        if isinstance(rows, str):
            page = self._read_entry(rows, lo, n)
        else:
            page = rows.slice(min(lo, rows.num_rows), n)
        schema = json.loads(page.schema.metadata[_SCHEMA_KEY])
        return self.spark.createDataFrame(page, StructType.fromJson(schema))

    def _serve(
        self,
        qid: str | None,
        base: DataFrame,
        condition: str,
        info: ClientQueryInfo,
    ) -> DataFrame:
        """One page of `base` filtered by the SQL `condition`, in
        `info`'s order, through the cache. A hit plans nothing on
        `base`."""
        if qid is not None and self.cached_results_available(qid):
            return self._paginate(qid, info)
        result = base.where(condition)
        return self._paginate(self._materialize(qid, result, info), info)

    def domain_list_query(
        self,
        domains: DataFrame,
        pattern: str,
        info: ClientQueryInfo,
    ) -> DataFrame:
        """DomainListQuery: regex-filtered domain stats, sorted page.

        The filtered, sorted result caches under the canonical id of
        (pattern, sort field, order, base files); pages are row-group
        reads of the cached parquet (PositionBasedSequenceFileIndex
        analog)."""
        qid = canonical_query_id(
            domains, "domain_list", {"pattern": pattern}, info
        )
        return self._serve(
            qid, domains, f"domain RLIKE {_sql_string(pattern)}", info
        )

    def inverse_links_query(
        self, inverse: DataFrame, root: int, info: ClientQueryInfo
    ) -> DataFrame:
        """getInverseLinksByDomain: the inverse-link rows whose target
        belongs to one root domain, as a sorted page.

        Reference: QueryServerFE.java:111-118 registers
        /getInverseLinksByDomain.jsp over URLLinksQuery; the shard scan
        + merge-sort becomes a cached, driver-sorted filter with
        row-group pages (same shape as domain_list_query). The root
        filter is the synthetic rootDomainHash (operators/graph.root_of)."""
        from ..operators.graph import ROOT_MOD

        qid = canonical_query_id(
            inverse, "inverse_links", {"root": root}, info
        )
        return self._serve(
            qid, inverse, f"dst % {ROOT_MOD} = {int(root)}", info
        )

    def url_detail_query(self, table: DataFrame, key_col: str, key) -> DataFrame:
        """Point lookup (URLLinksQuery's index seek analog).

        `WHERE key = x` over parquet = row-group min/max skip, the
        same pruning the reference's TFile seekTo provided
        (DatabaseIndexV2.java:791-840).
        """
        return table.filter(F.col(key_col) == F.lit(key))


def domain_stats_from_documents(documents: DataFrame) -> DataFrame:
    """Derive the 'domains' dimension the query server serves
    (SubDomainMetadata analog: per-source doc/char tallies)."""
    return documents.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("lang_count"),
    )


def keyword_snippets(
    documents: DataFrame, term: str, width: int = 30
) -> DataFrame:
    """Keyword-in-context snippets: for every document containing
    `term` (case-insensitive), the match position and a +-width-char
    window around the FIRST occurrence -- what a query server renders
    under each search hit.

    Pure Column expressions (instr + substring) evaluated in the scan
    stage; documents without the term are filtered before any
    projection work. Positions are 1-based (SQL instr convention);
    the window clips at document edges by substring semantics.
    """
    pos = F.instr(F.lower(F.col("text")), term.lower())
    return (
        documents.select("doc_id", pos.alias("pos"), "text")
        .filter(F.col("pos") > 0)
        .select(
            "doc_id",
            "pos",
            F.expr(
                f"substring(text, greatest(pos - {width}, 1), "
                f"pos - greatest(pos - {width}, 1) + {len(term)} + {width})"
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )
