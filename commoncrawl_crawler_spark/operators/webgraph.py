"""Host- and domain-level web graph rollups (the published
"webgraph" artifacts CommonCrawl ships beside each crawl: a
host-level graph, a domain-level graph, and dense integer node ids
assigned by sorted node name for succinct-graph compression).

Reference analog: the crawler's link-emit / inverse-link machinery
(SURVEY.md section 2.9) produces page-level edges; the public
cc-webgraph methodology (Nagel et al., derived from the WDC/BVGraph
lineage — all public) rolls those up:

  page links -> host graph: node = REVERSED host name
  ('com.example.www'), one edge per distinct (src_host, dst_host)
  pair, intra-host links dropped;

  host graph -> domain graph: hosts collapse to their registered
  domain (eTLD+1 via the public-suffix list), edge weight = number
  of distinct host-level pairs behind the domain pair, domain
  self-loops dropped;

  node ids: rank of the node name in the sorted node-name list.

Everything here is Column expressions + two groupBys; the PSL
collapse is `functions/urls.root_domain_expr` (codegen'd isin probe,
no Python). Dense ranks (node ids, rank ordinals) come from one
ranker, `with_key_rank`, sized by the key count: ceil(keys /
SPARK_GRAFT_LOOP_ROWS_PER_PART) buckets, capped. A small key set is
the one-bucket case — a single window, no driver collect. A large one
buckets the keys on cut points from a bounded sample and offsets
per-bucket window ranks by per-bucket counts (one bounded collect of
one row per bucket) — the standard distributed zipWithIndex, so the
sort stays parallel at any scale instead of funnelling every key
through the one task of `row_number() OVER (ORDER BY name)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commoncrawl_crawler_spark.functions import urls
from commoncrawl_crawler_spark.loopscope import (
    known_rows,
    partitions_for_rows,
    stamp_rows,
)


def host_graph(links: DataFrame, src_col: str = "src_host",
               dst_col: str = "dst_host") -> DataFrame:
    """Page-level (src_host, dst_host) link rows -> the host-level
    web graph: (src_host_rev, dst_host_rev, n_links) with reversed
    node names, one row per distinct host pair, page-link
    multiplicity preserved as the weight, intra-host links dropped.

    One groupBy (hash-partitioned on the pair) — linear at any
    scale; the reversed naming keeps each domain's hosts in one
    lexicographic range so downstream range partitioning co-locates
    them.
    """
    src = F.lower(F.regexp_replace(F.col(src_col), r"\.$", ""))
    dst = F.lower(F.regexp_replace(F.col(dst_col), r"\.$", ""))
    return (
        links.select(src.alias("_s"), dst.alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .groupBy(
            urls.reverse_host_expr(F.col("_s")).alias("src_host_rev"),
            urls.reverse_host_expr(F.col("_d")).alias("dst_host_rev"),
        )
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def domain_graph(host_edges: DataFrame) -> DataFrame:
    """Host-level edges -> the domain-level web graph:
    (src_domain_rev, dst_domain_rev, n_host_pairs, n_links), where
    nodes are reversed registered domains (eTLD+1 under the PSL),
    n_host_pairs counts the distinct host-level edges collapsed into
    the domain pair, and domain self-loops (inter-host but
    intra-domain links) are dropped.

    The PSL collapse is a codegen'd Column expression — no suffix
    table join, no Python — applied ONCE PER DISTINCT HOST via a
    (host -> domain) node-mapping table that joins back onto both
    edge endpoints. Two reasons, both scale-driven: (a) hosts number
    in the millions while host edges number in the hundreds of
    billions, so per-distinct-host evaluation is orders of magnitude
    less work than per-edge; (b) inlining the PSL expression into
    the groupBy keys made Catalyst re-expand the tree at every
    reference and the whole-stage-codegen method blew janino's 64 KB
    limit (interpreted fallback). It runs in reversed-name space
    (urls.root_domain_rev_expr): the public suffix is a prefix of a
    reversed name, so no unreverse/re-reverse round trip.
    """
    hosts = (
        host_edges.select(F.col("src_host_rev").alias("host_rev"))
        .union(host_edges.select("dst_host_rev"))
        .distinct()
    )
    mapping = hosts.select(
        "host_rev",
        urls.root_domain_rev_expr(F.col("host_rev")).alias("domain_rev"),
    )
    return (
        host_edges.join(
            mapping.withColumnRenamed("host_rev", "src_host_rev")
            .withColumnRenamed("domain_rev", "src_domain_rev"),
            "src_host_rev",
        )
        .join(
            mapping.withColumnRenamed("host_rev", "dst_host_rev")
            .withColumnRenamed("domain_rev", "dst_domain_rev"),
            "dst_host_rev",
        )
        .filter(F.col("src_domain_rev") != F.col("dst_domain_rev"))
        .groupBy("src_domain_rev", "dst_domain_rev")
        .agg(
            F.count(F.lit(1)).alias("n_host_pairs"),
            F.sum("n_links").alias("n_links"),
        )
    )


def _md5_permille(col):
    # deterministic per-name sampling key, engine/layout-independent
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
        % 1000
    )


def dense_node_ids(edges: DataFrame, src_col: str, dst_col: str,
                   buckets: int = 32,
                   sample_target: int = 4096) -> DataFrame:
    """(name, node_id) for every node appearing in `edges`, with
    node_id = rank of the name in the globally sorted distinct
    node-name list (0-based) — the id assignment succinct graph
    formats require.

    Scale shape: one count sizes the ranker (`with_key_rank`). Up to
    SPARK_GRAFT_LOOP_ROWS_PER_PART names are one window. Beyond that,
    up to `buckets` cut points are frozen from a bounded,
    DETERMINISTIC md5-keyed sample of the names (one collect of <=
    ~2*sample_target names — the same bounded-sample discipline as
    the IVF trainer), each name is bucketed against the frozen cuts,
    and the bucket's prefix-sum offset (one groupBy, one row per
    bucket collected) is added to the within-bucket rank. The result
    is independent of the bucket count and of where the cuts land
    (skewed cuts only unbalance the per-bucket windows, never change
    a rank), independent of partitioning, and every per-row stage is
    parallel — unlike a cached repartitionByRange pipeline, nothing
    silently corrupts if a recompute resamples boundaries.
    """
    names = (
        edges.select(F.col(src_col).alias("name"))
        .union(edges.select(F.col(dst_col).alias("name")))
        .distinct()
    )
    return dense_rank_by_key(names, buckets, sample_target)


def dense_rank_by_key(names: DataFrame, buckets: int = 32,
                      sample_target: int = 4096) -> DataFrame:
    """(name, node_id) where node_id = 0-based rank of `name` in the
    globally sorted distinct-name list — the distributed core of
    dense_node_ids, reusable for any orderable string key (e.g. a
    monotone rank-score encoding). `names` must hold distinct names;
    one count job sizes the ranker."""
    return with_key_rank(
        names, "name", "node_id", names.count(), buckets, sample_target
    ).select("name", "node_id")


def with_key_rank(df: DataFrame, key_col: str, out_col: str,
                  max_keys: int, buckets: int = 32,
                  sample_target: int = 4096) -> DataFrame:
    """`df` plus `out_col`: the 0-based rank of `key_col` (distinct
    per row) in the globally sorted key list.

    `max_keys` is an upper bound on the row count. It sizes the
    ranker: ceil(max_keys / SPARK_GRAFT_LOOP_ROWS_PER_PART) buckets,
    capped at `buckets`. One bucket is one window over every row — no
    driver collect at all. More buckets freeze cut points from a
    bounded, deterministic md5-keyed sample (one collect of <=
    ~2*sample_target keys), and add each bucket's prefix-sum offset
    (one collect of one row per bucket) to the within-bucket rank.
    The ranks do not depend on the bucket count or on where the cuts
    land: skewed cuts only unbalance the per-bucket windows.
    """
    n_buckets = min(buckets, partitions_for_rows(max_keys))
    cuts: list[str] = []
    if n_buckets > 1:
        permille = min(1000, max(1, (2 * sample_target * 1000) // max_keys))
        sample = sorted(
            r[0]
            for r in df.select(key_col)
            .filter(_md5_permille(F.col(key_col)) < permille)
            .collect()
        )
        n_cuts = max(0, min(n_buckets - 1, len(sample) - 1))
        cuts = [
            sample[(i + 1) * len(sample) // (n_cuts + 1)]
            for i in range(n_cuts)
        ]
    bucket = F.lit(0)
    for c in cuts:  # key > cut_i for each passed cut => bucket index
        bucket = bucket + (F.col(key_col) > F.lit(c)).cast("int")
    bucketed = df.withColumn("_b", bucket)
    offsets = [0]
    if cuts:
        counts = {
            r["_b"]: r["c"]
            for r in bucketed.groupBy("_b").agg(
                F.count(F.lit(1)).alias("c")
            ).collect()
        }
        for b in range(len(cuts)):
            offsets.append(offsets[-1] + counts.get(b, 0))
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for b, o in enumerate(offsets) for x in (b, o)]
        ),
        F.col("_b"),
    )
    w = Window.partitionBy("_b").orderBy(key_col)
    # bigint, NOT int: the node table has billions of rows at web
    # scale, and past 2^31-1 an int cast fails under ANSI mode
    return bucketed.withColumn(
        out_col, (off + F.row_number().over(w) - 1).cast("long")
    ).drop("_b")


def host_graph_with_ids(links: DataFrame, src_col: str = "src_host",
                        dst_col: str = "dst_host",
                        buckets: int = 32,
                        host_edges: DataFrame | None = None) -> DataFrame:
    """host_graph + dense node ids joined onto both endpoints —
    the full published host-graph edge record: (src_id, dst_id,
    src_host_rev, dst_host_rev, n_links). Two hash joins against the
    node table (which is itself derived, never broadcast-assumed:
    at web scale it has billions of rows). Pass `host_edges` to
    reuse a materialized host_graph output instead of rebuilding."""
    hg = (
        host_edges
        if host_edges is not None
        else host_graph(links, src_col, dst_col)
    )
    ids = dense_node_ids(hg, "src_host_rev", "dst_host_rev", buckets)
    return (
        hg.join(
            ids.withColumnRenamed("name", "src_host_rev")
            .withColumnRenamed("node_id", "src_id"),
            "src_host_rev",
        )
        .join(
            ids.withColumnRenamed("name", "dst_host_rev")
            .withColumnRenamed("node_id", "dst_id"),
            "dst_host_rev",
        )
        .select(
            "src_id", "dst_id", "src_host_rev", "dst_host_rev", "n_links"
        )
    )


def ranks(host_edges: DataFrame, iterations: int = 3) -> DataFrame:
    """The published webgraph RANKS artifact: per host node, its
    dense id, its fixed-point PageRank score, and its 0-based rank
    ordinal by descending score (ties broken by node name, the
    published convention of a deterministic total order).

    PageRank rides operators/graph.pagerank_fixed_point —
    fixed-point bigint, bit-identical under any partitioning, and
    unsorted: both orders below come from the ranker, not from a sort
    of the pagerank output. Its self rows put every node in that
    output, so it is also the node list; no second distinct() over
    the edges. Both the node id (rank of the name) and the rank
    ordinal (rank of a MONOTONE string key — zero-padded decimal of
    (10^18 - rank_i), then the node name; sorting it ascending IS
    sorting (score DESC, name ASC)) are `with_key_rank` columns added
    to the same rows, so no join either.

    The edge input is counted once (or its stamped count is used).
    The count lets pagerank's small_state_scope size the loop, and
    twice the count bounds the node count that sizes the ranker: a
    graph of up to SPARK_GRAFT_LOOP_ROWS_PER_PART/2 edges is ranked
    by one window per order, with no driver collect.
    """
    from commoncrawl_crawler_spark.operators import graph as g

    n_edges = known_rows(host_edges)
    if n_edges is None:
        n_edges = host_edges.count()
    edges = stamp_rows(
        host_edges.select(
            F.col("src_host_rev").alias("src"),
            F.col("dst_host_rev").alias("dst"),
        ),
        n_edges,
    )
    max_nodes = 2 * n_edges  # every node is an endpoint of some edge
    pr = g.pagerank_fixed_point(edges, iterations=iterations).select(
        F.col("node").alias("host_rev"), "rank_i"
    )
    ided = with_key_rank(pr, "host_rev", "node_id", max_nodes)
    # monotone encoding: bigger score -> lexicographically smaller
    # key. 10^18 headroom: max rank_i is O(n_nodes * 1e6), so the
    # complement stays positive (and the lpad monotone) up to ~10^12
    # nodes
    key = F.concat(
        F.lpad((F.lit(10**18) - F.col("rank_i")).cast("string"), 19, "0"),
        F.lit("|"),
        F.col("host_rev"),
    )
    return with_key_rank(
        ided.withColumn("_k", key), "_k", "rank_ordinal", max_nodes
    ).select(
        "rank_ordinal",
        "node_id",
        "host_rev",
        F.round(F.col("rank_i") / g.RANK_SCALE, 6).alias("pagerank"),
    )
