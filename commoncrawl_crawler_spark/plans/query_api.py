"""Interactive query lifecycle: filter -> position index -> cache -> page.

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
`df.filter(...)`; what stays is the reference's result cache and its
position index, each query path paying only the Spark work its
answer needs.

- *Position index.* A miss numbers the filtered rows 0.. in the
  query's sort order with one `row_number()` window (column `_pos`)
  and writes them once as parquet: 2 jobs, the exchange into the
  window's single partition and the write. The window is
  un-partitioned on purpose: a query result is post-filter, and the
  reference's master merged it on one node too (SCALE.md). Every
  page, the miss's first one included, is then the filter
  `_pos >= offset AND _pos < offset + page_size`, pushed down into
  the parquet scan and read with the entry's known schema: 1 job, no
  schema-inference job and no sort, because an entry is one file
  written in `_pos` order and a scan returns it in that order.
  Distinct sort orders
  cache separately, like the reference's pre-sorted NAME / PAGERANK
  index variants (query/DomainURLListQuery.java).
- *Cache key.* `canonical_query_id` hashes the query's parameters
  (minus offset and page size: every page of one query shares an
  entry) with `base_fingerprint`, the names, sizes and modification
  times of the files the base table reads. A rewritten base gets new
  entries instead of stale pages. A base that reads no file (built
  in memory) has no fingerprint and is served uncached, straight
  from its plan.
- *Atomic publish.* A miss writes its entry to a hidden temporary
  sibling and publishes it with one rename, so a reader sees a whole
  entry or none, and a build that fails leaves nothing behind.
  Clients that miss on the same id at once each build a copy; the
  first rename wins and the others discard theirs and read the
  winner's.
"""

from __future__ import annotations

import hashlib
import json
import uuid
from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, functions as F

POS = "_pos"  # row-position column of a cached result


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


# Query-path expressions are SQL strings, built once per query: the
# Column API costs about eight gateway round trips per function (origin
# tracking) where a string costs one for the whole operator. On a
# 4-core VM the domain filter took 7.6 ms to build as Column calls and
# 4.0 ms as a string, the position window 17 ms and 10 ms.


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_string(value: str) -> str:
    """`value` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


class QueryServer:
    """Result-cached interactive queries over a base DataFrame source.

    `cache_dir` is any Spark-writable URI (local path here; an
    object-store prefix on a cluster). An entry is the position-indexed
    result of one canonical id (query parameters + base fingerprint),
    `<cache_dir>/<id>`, published whole by one rename (`_publish`).
    Entries are tiny relative to base tables (they are post-filter), so
    the cache is cheap and the pagination path never touches base data.
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

    def _materialize(self, qid: str | None, df: DataFrame) -> DataFrame:
        """The cache entry of `qid`, built from `df` (a result with its
        POS column) on a miss; `df` itself when `qid` is None."""
        if qid is None:
            return df
        if not self.cached_results_available(qid):
            self._publish(qid, df)
        return (
            self.spark.read.format("parquet")
            .schema(df.schema)
            .load(self._cache_path(qid))
        )

    def _publish(self, qid: str, df: DataFrame) -> None:
        """Write `df` to a hidden temporary sibling of qid's entry and
        rename it into place. Never renames onto an existing entry:
        Hadoop's rename would nest the source inside it. If another
        client publishes between the check and the rename, the rename
        nests this copy (hidden, so no reader lists it) and it is
        deleted; the winner's entry stands."""
        name = f".{qid}-{uuid.uuid4().hex}.tmp"
        tmp, final = self._cache_path(name), self._cache_path(qid)
        tmp_path, fs = _hadoop_path(self.spark, tmp)
        try:
            df.write.parquet(tmp)
        except BaseException:
            fs.delete(tmp_path, True)
            raise
        final_path, _ = _hadoop_path(self.spark, final)
        if fs.exists(final_path) or not fs.rename(tmp_path, final_path):
            fs.delete(tmp_path, True)
        else:
            fs.delete(_hadoop_path(self.spark, f"{final}/{name}")[0], True)

    def _paginate(self, df: DataFrame, info: ClientQueryInfo) -> DataFrame:
        """Rows `offset`.. of a position-indexed result, in `_pos` order
        with no sort: an entry is one parquet file the window's single
        task wrote in `_pos` order, and Spark reads a file's splits back
        in offset order."""
        lo, hi = info.offset, info.offset + info.page_size
        return df.where(f"`{POS}` >= {lo} AND `{POS}` < {hi}").drop(POS)

    def _serve(
        self, qid: str | None, result: DataFrame, info: ClientQueryInfo
    ) -> DataFrame:
        """One page of `result` in `info`'s order, through the cache."""
        order = [
            _quote(info.sort_field) + (" ASC" if info.ascending else " DESC")
        ]
        if info.tiebreak:
            order.append(_quote(info.tiebreak) + " ASC")
        indexed = result.selectExpr(
            "*",
            f"row_number() OVER (ORDER BY {', '.join(order)}) - 1"
            f" AS `{POS}`",
        )
        return self._paginate(self._materialize(qid, indexed), info)

    def domain_list_query(
        self,
        domains: DataFrame,
        pattern: str,
        info: ClientQueryInfo,
    ) -> DataFrame:
        """DomainListQuery: regex-filtered domain stats, sorted page.

        The filtered, position-indexed result caches under the
        canonical id of (pattern, sort field, order, base files);
        pages are `_pos` range reads of the cached parquet
        (PositionBasedSequenceFileIndex analog)."""
        qid = canonical_query_id(
            domains, "domain_list", {"pattern": pattern}, info
        )
        result = domains.where(f"domain RLIKE {_sql_string(pattern)}")
        return self._serve(qid, result, info)

    def inverse_links_query(
        self, inverse: DataFrame, root: int, info: ClientQueryInfo
    ) -> DataFrame:
        """getInverseLinksByDomain: the inverse-link rows whose target
        belongs to one root domain, as a sorted page.

        Reference: QueryServerFE.java:111-118 registers
        /getInverseLinksByDomain.jsp over URLLinksQuery; the shard scan
        + merge-sort becomes a cached, position-indexed filter with
        `_pos` range pages (same shape as domain_list_query). The root
        filter is the synthetic rootDomainHash (operators/graph.root_of)."""
        from ..operators.graph import ROOT_MOD

        qid = canonical_query_id(
            inverse, "inverse_links", {"root": root}, info
        )
        result = inverse.where(f"dst % {ROOT_MOD} = {int(root)}")
        return self._serve(qid, result, info)

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
