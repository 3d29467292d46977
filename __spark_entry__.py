"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Column-name parity rule: every computed column is aliased identically
in the Spark code and the oracle SQL; double-typed aggregates are
rounded (3 decimals for sums, 6 for ratios/avgs) on BOTH sides so
cross-engine float summation order cannot flip the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from commoncrawl_crawler_spark.operators import (
    aggregates,
    bpe,
    analytics,
    crawldb,
    crawllist,
    dataquality,
    dedup,
    filters,
    graph,
    joins,
    corpus,
    layout,
    multimodal,
    robots,
    sampling,
    sessions,
    setops,
    skew,
    similarity,
    textstats,
    tokenizers,
    webgraph,
    windows,
)
from commoncrawl_crawler_spark.functions import (
    dnswire,
    headers as hdr,
    html as htmlfn,
    numeric,
    ricecoding,
    urls as urlfn,
)
from commoncrawl_crawler_spark.plans import pipeline as plan_pipeline
from commoncrawl_crawler_spark.plans import query_api
from commoncrawl_crawler_spark.streaming import jobs as streaming_jobs
from commoncrawl_crawler_spark.shipping import ensure_shipped
from commoncrawl_crawler_spark.checkpointing import ckpt_lazy
from commoncrawl_crawler_spark import loopscope
from commoncrawl_crawler_spark.operators import bloom
from commoncrawl_crawler_spark.sources import (
    archive,
    ingest,
    load_table,
    packfiles,
    sinks,
    xmlsource,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # ship the package to Python workers (pandas UDFs) even when the
    # driving process was launched outside the repo directory
    ensure_shipped(spark)
    return load_table(spark, name, sf_dir)


def _share_sort(df: DataFrame) -> DataFrame:
    """Lazy checkpoint boundary below a RESULT-ORDERING orderBy.

    A global sort's range partitioner runs a separate SAMPLING job
    over the child plan before the exchange, so everything below the
    Sort executes twice per action; shuffle map stages below are
    reused across the two jobs, but the post-shuffle narrow segment
    -- for the media/document gates, the entire Arrow synth+decode
    chain -- is recomputed in full (guide 1.4/2.4). The lazy
    localCheckpoint materializes the narrow feature rows on the
    sampling pass and the sort reads them back (applied to every
    gate whose top-level Sort sits above a Python chain).
    Routed through stable_checkpoint, so a cluster run with
    SPARK_GRAFT_CHECKPOINT_DIR set gets executor-loss-safe reliable
    checkpoints of these (small, per-media summary) tables."""
    return ckpt_lazy(df)


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t + fan-out. The testdata tables are single-file single-row-
    group parquet, so a scan is ONE partition and any heavy per-row
    work before the first exchange runs single-threaded (guide 2.5:
    input skew, 'one huge unsplittable file -- repartition
    immediately after the read'). Used by gates whose dominant cost
    is pre-shuffle per-row work; gates whose first operator is an
    aggregation/join exchange keep the plain _t loader."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _blocked_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .select(F.col("source").alias("blocked_source"))
        .distinct()
    )


# The edge table is a derived artifact every graph operator consumes
# (the reference materialized its link DB once and pointed every
# downstream job at it -- LinkGraphDataEmitter output). Deriving it
# per query would re-run the union+distinct shuffle 8x; materialize
# once per (session, sf_dir) with a checkpoint and share. Keyed by
# applicationId so a restarted session never sees stale lineage.
_EDGE_CACHE: dict = {}

# name of the gate whose builder is currently running (set by the
# wrappers queries() installs): lets the shared-artifact log below
# attribute each first-touch build to the per-query bench line that
# paid it (round-9 verdict item 7 -- amortization made visible
# without touching bench.py's timed region or JSON)
_CURRENT_GATE: str | None = None


def _cached(spark: SparkSession, tag: str, sf_dir: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    # evict entries from stopped sessions: their checkpointed
    # DataFrames are unreachable and would pin JVM references forever
    for k in [k for k in _EDGE_CACHE if k[0] != app]:
        del _EDGE_CACHE[k]
    key = (app, tag, sf_dir)
    if key not in _EDGE_CACHE:
        import sys as _sys
        import time as _time

        _t0 = _time.monotonic()
        art_dir = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
        if art_dir:
            # the 100 TB posture SCALE.md documents: shared stages
            # persist as parquet artifacts a later SESSION reuses
            # without rebuilding (reference step-output semantics);
            # artifact name is keyed by sf_dir like _scratch
            import hashlib

            sub = f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
            store = plan_pipeline.ArtifactStore(art_dir)
            _EDGE_CACHE[key] = store.get_or_build(spark, sub, build)
        else:
            # observe the exact row count on the materialization job
            # that runs anyway and stamp it on the shared DataFrame:
            # iterative consumers size their loop-state shuffles from
            # it (loopscope.small_state_scope) with ZERO extra jobs
            from pyspark.sql import Observation

            obs = Observation()
            df = build().observe(
                obs, F.count(F.lit(1)).alias("n")
            ).localCheckpoint(eager=True)
            loopscope.stamp_rows(df, obs.get["n"])
            _EDGE_CACHE[key] = df
        print(
            f"[shared-artifact] tag={tag} "
            f"first_touch_gate={_CURRENT_GATE} "
            f"build_sec={_time.monotonic() - _t0:.3f}",
            file=_sys.stderr,
        )
    return _EDGE_CACHE[key]


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(
        spark,
        "edges",
        sf_dir,
        lambda: graph.link_graph_edges(_t(spark, sf_dir, "lineitem")),
    )


def _md5_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shingle build (narrow projection + distinct) feeds BOTH the
    # simhash sketch and the minhash signature builds; materialize once
    # per (session, sf) like the edge table above
    return _cached(
        spark,
        "md5_tokens",
        sf_dir,
        lambda: dedup._md5_tokens(_t(spark, sf_dir, "documents")),
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the LSH pair table is consumed verbatim by dedup_simhash_lsh and
    # as the edge input of dedup_simhash_clusters; build it once
    return _cached(
        spark,
        "simhash_pairs",
        sf_dir,
        lambda: dedup.md5_simhash_pairs(
            _t(spark, sf_dir, "documents"),
            hamming_k=3,
            tokens=_md5_tokens(spark, sf_dir),
        ),
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the banded minhash LSH pair table feeds dedup_minhash_lsh, the
    # edge input of dedup_minhash_clusters, and the sketch side of
    # dedup_sketch_quality -- build it once per (session, sf); the
    # exact discipline of _simhash_pairs above (r9-opt wave 2: the
    # signature+banding+verify chain previously ran 3x per pass)
    return _cached(
        spark,
        "minhash_pairs",
        sf_dir,
        lambda: dedup.md5_minhash_pairs(
            _t(spark, sf_dir, "documents"),
            min_matching=13,
            tokens=_md5_tokens(spark, sf_dir),
        ),
    )


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ExactSubstr maximal-duplicated-interval table feeds BOTH
    # text_duplicate_spans and text_duplicate_trim; its shingle
    # explode + corpus-frequency window dominates each gate -- build
    # once per (session, sf) (r9-opt wave 6, the _minhash_pairs
    # discipline; per-doc interval rows, small at any scale)
    return _cached(
        spark,
        "dup_spans8",
        sf_dir,
        lambda: textstats.duplicate_spans_table(
            _t(spark, sf_dir, "documents"), min_len=8
        ),
    )


def _simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the iterative star-contraction over the LSH pair graph is the
    # single most expensive shared stage (multiple jobs); its label
    # table feeds dedup_simhash_clusters, pipeline_corpus_build, and
    # dedup_cluster_representatives -- run it once per (session, sf)
    return _cached(
        spark,
        "simhash_clusters",
        sf_dir,
        lambda: dedup.md5_simhash_clusters(
            _t(spark, sf_dir, "documents"),
            hamming_k=3,
            pairs=_simhash_pairs(spark, sf_dir),
        ),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parts sharing an order -- the triangle-bearing graph (the
    # supplier-part graph is bipartite); consumed by both the
    # triangle and clustering-coefficient gates
    def build():
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            li.alias("a")
            .join(
                li.alias("b"),
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            # distinct BEFORE the checkpoint: both consumers dedup
            # immediately, so checkpointing the raw self-join would
            # store (and re-shuffle) the larger multiset twice
            .distinct()
        )

    return _cached(spark, "copurchase_edges", sf_dir, build)


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sparse subgraph (rare high-price lines) so components are
    # non-trivial; the full graph collapses to one giant component
    return _cached(
        spark,
        "cc_edges",
        sf_dir,
        lambda: graph.link_graph_edges(
            _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 95000)
        ),
    )


def _digraph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # host-grain DIRECTED graph (the closure/SCC tier): node modulus
    # 97 bounds the closure at 97*96 pairs and the doubling join's
    # intermediate at 97^3 rows whatever the corpus scale -- the
    # condensation grain the docstrings promise
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return o.select(
        (F.col("o_orderkey") % 97).alias("src"),
        ((F.col("o_orderkey") * 3 + F.col("o_custkey")) % 97).alias("dst"),
    ).distinct()


def _layered_digraph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the condensation-levels gate needs NON-degenerate DAG structure
    # (the dense digraph above collapses to one giant SCC): edges run
    # forward between consecutive 24-wide node layers, plus sparse
    # in-layer edges (okey % 3) that form small per-layer SCCs --
    # depth ~14, ~31 components at every SF
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    src = F.col("o_orderkey") % 97
    dst = (F.col("o_orderkey") * 3 + F.col("o_custkey")) % 97
    return (
        o.select(
            src.alias("src"),
            dst.alias("dst"),
            F.floor(src / 24).alias("_ls"),
            F.floor(dst / 24).alias("_ld"),
            (F.col("o_orderkey") % 3 == 0).alias("_inlayer_ok"),
        )
        .filter(
            (F.col("_ls") + 1 == F.col("_ld"))
            | ((F.col("_ls") == F.col("_ld")) & F.col("_inlayer_ok"))
        )
        .select("src", "dst")
        .distinct()
    )


def _layered_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(
        spark,
        "layered_closure",
        sf_dir,
        lambda: graph.transitive_closure(
            _layered_digraph_edges(spark, sf_dir)
        ),
    )


_HB_TOTALS: dict = {}


def _hyperball_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE register iteration per (session, sf): the node-level gate
    # consumes the cached DataFrame, the neighborhood gate reuses the
    # per-round totals the same run recorded
    def build() -> DataFrame:
        df = graph.hyperball(
            _layered_digraph_edges(spark, sf_dir), max_rounds=40
        )
        key = (spark.sparkContext.applicationId, sf_dir)
        _HB_TOTALS[key] = list(graph.hyperball.last_est_totals)
        return df

    return _cached(spark, "hyperball_nodes", sf_dir, build)


def _graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall over the layered digraph, with the exact reach count
    from the SHARED layered closure joined on as the quality column
    (the error report the approximate operator replaces at scale)."""
    hb = _hyperball_nodes(spark, sf_dir)
    exact = graph.reach_counts(
        _layered_digraph_edges(spark, sf_dir),
        closure=_layered_closure(spark, sf_dir),
    )
    return hb.join(exact, "node").select(
        "node",
        "ball_est_micro",
        "harmonic_micro",
        F.col("n_reach").alias("exact_reach"),
    ).orderBy("node")


def _graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # if the node-level gate already ran this session, its recorded
    # totals assemble the curve with ZERO extra jobs; otherwise (first
    # touch, or nodes restored from a parquet artifact without the
    # driver memo) build and cache the table as its own shared stage
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _HB_TOTALS:
        return graph.neighborhood_table(spark, _HB_TOTALS[key]).orderBy("t")
    return _cached(
        spark,
        "hyperball_nf",
        sf_dir,
        lambda: graph.hyperball_neighborhood(
            _layered_digraph_edges(spark, sf_dir), max_rounds=40
        ),
    ).orderBy("t")


def _redirect_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # functional host-alias graph on the 97-residue grain: terminals
    # at v % 5 == 0, everyone else points at (6v + 13) % 97 -- 12
    # nodes sit on real multi-node cycles, the longest terminating
    # chain is 11 hops, and no self-loop exists (the v = 75 fixpoint
    # of the map is a terminal), so the gate exercises every verdict
    # class of resolve_redirect_chains
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        o.select((F.col("o_orderkey") % 97).alias("src"))
        .distinct()
        .filter(F.col("src") % 5 != 0)
        .select("src", ((F.col("src") * 6 + 13) % 97).alias("dst"))
    )


def _anchor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one synthetic inbound link per document: 41 target pages, anchor
    # phrase varies by (lang, doc_id % 7), source host by corpus source
    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        F.concat(
            F.lit("http://site"),
            (F.col("doc_id") % 41).cast("string"),
            F.lit(".example.com/"),
        ).alias("url"),
        F.concat(
            F.col("lang"), F.lit(" "), (F.col("doc_id") % 7).cast("string")
        ).alias("anchor"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("src_host"),
    )


def _template_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # four URL families per host: /article/N, dated posts, hex-hash
    # short links, and a static page -- the DUST mining input
    did = F.col("doc_id")
    u = (
        F.when(
            did % 4 == 0,
            F.concat(F.lit("/article/"), did.cast("string")),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit("/2024/"),
                (did % 12 + 1).cast("string"),
                F.lit("/post-"),
                did.cast("string"),
                F.lit(".html"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("/p/"), F.substring(F.md5(did.cast("string")), 1, 12)
            ),
        )
        .otherwise(F.lit("/about"))
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com"), u
        ).alias("url")
    )


def _page_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized page-level link rows for the webgraph rollups:
    each document emits three (src_host, dst_host) links -- an
    intra-host self-reference (must vanish in the host graph), a
    cross-subdomain link inside the same registered domain (survives
    the host graph, must vanish in the domain graph), and a
    cross-domain link derived from doc_id arithmetic. One host in
    five lives under .co.uk so the PSL collapse is exercised on a
    multi-label public suffix; the oracle replays the generator."""
    did = F.col("doc_id")
    sub = (
        F.when(did % 3 == 0, F.lit("www."))
        .when(did % 3 == 1, F.lit("blog."))
        .otherwise(F.lit(""))
    )
    xsub = (
        F.when(did % 3 == 0, F.lit("blog."))
        .when(did % 3 == 1, F.lit(""))
        .otherwise(F.lit("www."))
    )
    dom = F.concat(
        F.col("source"),
        F.when(did % 5 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    src = F.concat(sub, dom)
    xhost = F.concat(
        F.lit("www.src"),
        ((did * 7 + 3) % 20).cast("string"),
        F.lit(".com"),
    )
    return _t(spark, sf_dir, "documents").select(
        src.alias("src_host"),
        F.explode(
            F.array(src, F.concat(xsub, dom), xhost)
        ).alias("dst_host"),
    )


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level edge table shared by the host- and domain-webgraph
    gates (one groupBy over the page links), materialized once per
    (session, sf) like the link-graph edge table."""
    return _cached(
        spark,
        "webgraph_hostedges",
        sf_dir,
        lambda: webgraph.host_graph(_page_links(spark, sf_dir)),
    )


def _boiler_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # render each document as a 5-block page: 2-word title, link-heavy
    # nav, the real text as the content paragraph, a short note, and a
    # link-bearing footer -- every verdict class of the block rules
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit('</title></head><body><div><a href="http://'),
        F.col("source"),
        F.lit('.example.com/">home '),
        F.col("lang"),
        F.lit('</a> <a href="/about">about</a></div><p>'),
        F.col("text"),
        F.lit('</p><p>ok</p><div>Copyright '),
        F.col("source"),
        F.lit(' <a href="#">terms of use</a></div></body></html>'),
    )
    return _t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))


def _digraph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reachability closure feeds BOTH graph_reach_counts and
    # graph_scc; run the doubling fixpoint once per (session, sf)
    return _cached(
        spark,
        "digraph_closure",
        sf_dir,
        lambda: graph.transitive_closure(_digraph_edges(spark, sf_dir)),
    )


# ---- generated oracle SQL for the graph family -----------------------

_EDGES_CTE = """
edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem{flt}
        UNION ALL
        SELECT l_partkey + 1000000 AS src, l_suppkey AS dst
        FROM lineitem WHERE l_linenumber = 1{andflt}
    )
),
nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
outdeg AS (SELECT src, count(*) AS out_cnt FROM edges GROUP BY src)
"""


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the star-contraction labels feed both the component listing and
    # the size rollup; run the iterative contraction once per
    # (session, sf)
    return _cached(
        spark,
        "cc_labels",
        sf_dir,
        lambda: graph.connected_components(_cc_edges(spark, sf_dir)),
    )


_BPE_MERGES_CACHE: dict = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """Learned BPE merge list, trained once per (session, sf): the
    text_bpe_merges and text_bpe_encode gates share the 6-round
    driver loop the way sim_kmeans_exact/dedup_semantic share the
    Lloyd assignment (same eviction discipline as _cached)."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _BPE_MERGES_CACHE if k[0] != app]:
        del _BPE_MERGES_CACHE[k]
    key = (app, sf_dir)
    if key not in _BPE_MERGES_CACHE:
        _BPE_MERGES_CACHE[key] = bpe.learn_merges(
            _t(spark, sf_dir, "documents"), num_merges=6
        )
    return _BPE_MERGES_CACHE[key]


def _kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact-integer Lloyd assignment is the cluster structure BOTH
    # sim_kmeans_exact and dedup_semantic consume (SemDeDup blocks on
    # the k-means cells); run the iterative trainer once per
    # (session, sf) like the CC labels above
    return _cached(
        spark,
        "kmeans_assign",
        sf_dir,
        lambda: similarity.kmeans_exact(
            _t(spark, sf_dir, "embeddings"), k=8, max_iterations=15,
            eps=10_000,
        ),
    )


#: shared closed-form derivation of the synthesized robots semantics
#: (consumed by the robots_evaluate and pipeline_robots_fetch_plan
#: oracles -- one definition so the two cannot drift)
_ROBOTS_VERDICT_CTE = """
u AS (
    SELECT o_orderkey AS key,
           CAST(o_orderkey % 20 AS INT) AS i,
           'd' || CAST(o_orderkey % 20 AS VARCHAR) || '.com' AS host,
           CASE WHEN o_orderkey % 10 = 0 THEN '/'
                WHEN o_orderkey % 10 = 1 THEN '/p/1'
                WHEN o_orderkey % 10 = 2 THEN '/p/15'
                WHEN o_orderkey % 10 = 3 THEN '/p/7'
                WHEN o_orderkey % 10 = 4 THEN '/private/a'
                WHEN o_orderkey % 10 = 5 THEN '/private/'
                ELSE '/page/' || CAST(o_orderkey % 50 AS VARCHAR)
           END AS path
    FROM orders
), v AS (
    SELECT key, host, path,
           CASE WHEN i % 3 = 0 THEN
                    CASE WHEN starts_with(path, '/p/1') THEN TRUE
                         WHEN starts_with(path, '/p/') THEN FALSE
                         ELSE TRUE END
                WHEN i % 3 = 1 THEN NOT starts_with(path, '/private/')
                ELSE TRUE END AS allowed,
           CASE WHEN i % 3 = 0 THEN CAST(i AS BIGINT) * 1000
                ELSE CAST(-1 AS BIGINT) END AS cdm
    FROM u
)"""


def _edges_cte(price_min: float | None = None) -> str:
    flt = f" WHERE l_extendedprice > {price_min}" if price_min else ""
    andflt = f" AND l_extendedprice > {price_min}" if price_min else ""
    return _EDGES_CTE.format(flt=flt, andflt=andflt)


# Shared by text_bigram_surprisal (verbatim) and
# text_perplexity_buckets (wrapped as a CTE for per-language ntile).
_BIGRAM_SURPRISAL_SQL = """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           lower(trim(text)), '\\s+'),
                           w -> w <> '') AS toks
                FROM documents
            ), bg AS (
                SELECT doc_id,
                       toks[i] || ' ' || toks[i + 1] AS bg,
                       toks[i] AS w1
                FROM (SELECT doc_id, toks,
                             unnest(range(1, len(toks))) AS i FROM t)
            ), w AS (
                SELECT doc_id, unnest(toks) AS word FROM t
            ), uni AS (
                SELECT word, count(*) AS c1 FROM w GROUP BY word
            ), v AS (
                SELECT CAST(count(*) AS DOUBLE) AS vs FROM uni
            ), bgc AS (
                SELECT bg, w1, count(*) AS c12 FROM bg GROUP BY bg, w1
            ), sc AS (
                SELECT bg,
                       CAST(round(-log2((c12 + 1) / (c1 + vs)), 6)
                            AS DECIMAL(18,6)) AS lp
                FROM bgc JOIN uni ON bgc.w1 = uni.word CROSS JOIN v
            ), a AS (
                SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                       CAST(sum(lp) * 1000000 AS BIGINT) AS sm
                FROM bg JOIN sc USING (bg) GROUP BY doc_id
            )
            SELECT doc_id, n_bigrams,
                   CAST((2 * sm + n_bigrams) // (2 * n_bigrams)
                        AS DOUBLE) / 1000000.0 AS mean_surprisal_bits
            FROM a ORDER BY doc_id
        """


def _pq_sql(train_iters: int = 0, eps: int = 10_000) -> str:
    """Product-quantization ANN oracle mirroring similarity.pq_topk:
    anchor codebooks (train_iters=0) or per-subspace exact-integer
    Lloyd refinement unrolled to the cap with the kmeans-style
    first-delta-below-eps pick. Hardcodes the gate defaults: 64-dim
    embeddings, 4 subspaces of 16 dims, 16 codes, probes vec_id < 10,
    top 5. AS MATERIALIZED throughout (CTE inlining re-expands
    iteration chains exponentially)."""
    off = 1 << 20
    sql = f"""WITH pts AS MATERIALIZED (
    SELECT vec_id,
           pos - 1 AS dim,
           CAST((pos - 1) // 16 AS INT) AS sub,
           CAST(floor(val * 1000000 + 0.5) AS BIGINT) + {off} AS q
    FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos, unnest(e) AS val
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings))
),
seeds AS (
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
),
cb0 AS MATERIALIZED (
    SELECT p.sub, s.code, p.dim, p.q AS cq
    FROM pts p JOIN seeds s USING (vec_id)
)"""
    book = "cb0"
    if train_iters > 0:
        for i in range(1, train_iters + 1):
            sql += f""",
d{i} AS (
    SELECT p.vec_id, c.sub, c.code,
           sum((p.q - c.cq) * (p.q - c.cq)) AS dist
    FROM pts p JOIN cb{i - 1} c ON p.sub = c.sub AND p.dim = c.dim
    GROUP BY 1, 2, 3
),
a{i} AS MATERIALIZED (
    SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        FROM d{i}
    ) WHERE rn = 1
),
cb{i} AS MATERIALIZED (
    SELECT o.sub, o.code, o.dim, CAST(coalesce(n.cn, o.cq) AS BIGINT) AS cq
    FROM cb{i - 1} o LEFT JOIN (
        SELECT a.sub, a.code, p.dim, sum(p.q) // count(*) AS cn
        FROM a{i} a JOIN pts p ON a.vec_id = p.vec_id AND a.sub = p.sub
        GROUP BY 1, 2, 3
    ) n ON o.sub = n.sub AND o.code = n.code AND o.dim = n.dim
),
delta{i} AS (
    SELECT {i} AS it, max(abs(a.cq - b.cq)) AS delta
    FROM cb{i} a JOIN cb{i - 1} b
        ON a.sub = b.sub AND a.code = b.code AND a.dim = b.dim
)"""
        deltas = " UNION ALL ".join(
            f"SELECT it, delta FROM delta{i}"
            for i in range(1, train_iters + 1)
        )
        allcb = " UNION ALL ".join(
            f"SELECT {i} AS it, sub, code, dim, cq FROM cb{i}"
            for i in range(1, train_iters + 1)
        )
        sql += f""",
pick AS (
    SELECT coalesce(min(it), {train_iters}) AS it
    FROM ({deltas}) WHERE delta <= {eps}
),
allcb AS ({allcb}),
book AS MATERIALIZED (
    SELECT sub, code, dim, cq FROM allcb
    WHERE it = (SELECT it FROM pick)
)"""
        book = "book"
    return sql + f""",
encd AS (
    SELECT p.vec_id, b.sub, b.code,
           sum((p.q - b.cq) * (p.q - b.cq)) AS dist
    FROM pts p JOIN {book} b ON p.sub = b.sub AND p.dim = b.dim
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, code) AS rk
        FROM encd
    ) WHERE rk = 1
),
tabs AS (
    SELECT p.vec_id AS probe_id, b.sub, b.code,
           sum((p.q - b.cq) * (p.q - b.cq)) AS pdist
    FROM pts p JOIN {book} b ON p.sub = b.sub AND p.dim = b.dim
    WHERE p.vec_id < 10
    GROUP BY 1, 2, 3
),
adc AS (
    SELECT t.probe_id, c.vec_id,
           CAST(sum(t.pdist) AS BIGINT) AS adc_dist
    FROM codes c JOIN tabs t ON c.sub = t.sub AND c.code = t.code
    WHERE c.vec_id <> t.probe_id
    GROUP BY 1, 2
)
SELECT probe_id, vec_id, adc_dist, rnk FROM (
    SELECT probe_id, vec_id, adc_dist,
           CAST(row_number() OVER (
               PARTITION BY probe_id
               ORDER BY adc_dist, vec_id) AS INT) AS rnk
    FROM adc
) WHERE rnk <= 5 ORDER BY probe_id, rnk
"""


def _lpa_sql(iterations: int = 4, price_min: float = 95000) -> str:
    """graph_label_propagation oracle: the synchronous rounds unroll
    to a linear MATERIALIZED-CTE chain; the argmax is expressed as a
    row_number window (independent of the Spark side's max_by-over-
    struct formulation)."""
    parts = [
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges"
        ") WHERE src <> dst)",
        "lnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und)",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM lnodes)",
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT u.src AS v, l.label, "
            f"count(*) AS cnt FROM und u JOIN l{r - 1} l ON u.dst = l.node "
            "GROUP BY 1, 2)"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT v, label, row_number() OVER ("
            "PARTITION BY v ORDER BY cnt DESC, label) AS rn "
            f"FROM c{r})"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT n.node, "
            "coalesce(s.label, n.node) AS label FROM lnodes n "
            f"LEFT JOIN (SELECT v, label FROM s{r} WHERE rn = 1) s "
            "ON n.node = s.v)"
        )
    chain = ",\n".join(parts)
    return (
        f"WITH {_edges_cte(price_min=price_min)},\n{chain}\n"
        f"SELECT node, label AS community FROM l{iterations} ORDER BY node"
    )


def _kcore_sql(k: int = 3, rounds: int = 30) -> str:
    """k-core peeling unrolled to the Spark-side iteration cap.
    Peeling is monotone and idempotent, so rounds past the fixpoint
    are no-ops -- the fixed unroll equals the data-driven early stop
    without mirroring a stopping rule. AS MATERIALIZED per round
    (default CTE inlining re-expands multi-referenced rounds
    exponentially)."""
    sql = (
        "WITH "
        + _edges_cte()
        + """,
sym AS (
    SELECT DISTINCT node, nbr FROM (
        SELECT src AS node, dst AS nbr FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS node, src AS nbr FROM edges WHERE src <> dst
    )
),
e0 AS MATERIALIZED (SELECT node, nbr FROM sym)"""
    )
    for i in range(1, rounds + 1):
        sql += f""",
k{i} AS MATERIALIZED (
    SELECT node FROM e{i-1} GROUP BY node HAVING count(*) >= {k}
),
e{i} AS MATERIALIZED (
    SELECT e.node, e.nbr
    FROM e{i-1} e JOIN k{i} a ON e.node = a.node
    JOIN k{i} b ON e.nbr = b.node
)"""
    sql += f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds} GROUP BY node ORDER BY node
"""
    return sql


def _hits_sql(iterations: int = 2) -> str:
    """HITS unrolled for a fixed iteration count -- exact bigint
    sums, mirroring graph.hits_scores."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    sql = (
        "WITH "
        + _edges_cte()
        + ", h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)"
    )
    for i in range(1, iterations + 1):
        sql += f""",
a{i} AS (
    SELECT n.node, CAST(coalesce(s.a, 0) AS BIGINT) AS auth
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(h.hub) AS a
        FROM edges e JOIN h{i-1} h ON e.src = h.node GROUP BY e.dst
    ) s USING (node)
),
h{i} AS (
    SELECT n.node, CAST(coalesce(s.h, 0) AS BIGINT) AS hub
    FROM nodes n LEFT JOIN (
        SELECT e.src AS node, sum(a.auth) AS h
        FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ) s USING (node)
)"""
    sql += f"""
SELECT n.node, a.auth, h.hub
FROM nodes n
JOIN a{iterations} a USING (node)
JOIN h{iterations} h USING (node)
ORDER BY n.node
"""
    return sql


_WEBGRAPH_EDGES_CTE = """base AS (
                SELECT CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                           ELSE '' END AS sub,
                       CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'blog.' WHEN 1 THEN ''
                           ELSE 'www.' END AS xsub,
                       source || CASE WHEN doc_id % 5 = 0
                           THEN '.co.uk' ELSE '.com' END AS dom,
                       'www.src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
                           || '.com' AS xhost
                FROM documents
            ), links AS (
                SELECT sub || dom AS s, sub || dom AS t FROM base
                UNION ALL SELECT sub || dom, xsub || dom FROM base
                UNION ALL SELECT sub || dom, xhost FROM base
            ), edges AS (
                SELECT array_to_string(
                           list_reverse(string_split(s, '.')), '.'
                       ) AS src_host_rev,
                       array_to_string(
                           list_reverse(string_split(t, '.')), '.'
                       ) AS dst_host_rev,
                       count(*) AS n_links
                FROM links WHERE s <> t GROUP BY 1, 2
            )"""


def _webgraph_ranks_sql(iterations: int = 3) -> str:
    # fixed-point pagerank over the DISTINCT host pairs (mirrors
    # webgraph.ranks -> graph.pagerank), then node ids by sorted name
    # and rank ordinals by (score DESC, name ASC) -- the oracle may
    # use the global-ORDER-BY row_number the engine avoids
    sql = (
        "WITH "
        + _WEBGRAPH_EDGES_CTE
        + """, nodes AS (
    SELECT DISTINCT src_host_rev AS node FROM edges
    UNION SELECT DISTINCT dst_host_rev FROM edges
), outdeg AS (
    SELECT src_host_rev AS src, count(*) AS out_cnt
    FROM edges GROUP BY 1
), r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_i FROM nodes)"""
    )
    for i in range(1, iterations + 1):
        sql += f""",
r{i} AS (
    SELECT n.node,
           CAST(150000 + (coalesce(s.recv, 0) * 85) // 100 AS BIGINT)
               AS rank_i
    FROM nodes n LEFT JOIN (
        SELECT e.dst_host_rev AS node,
               sum(r.rank_i // d.out_cnt) AS recv
        FROM edges e
        JOIN r{i - 1} r ON e.src_host_rev = r.node
        JOIN outdeg d ON e.src_host_rev = d.src
        GROUP BY 1
    ) s ON n.node = s.node
)"""
    return sql + f""",
ids AS (
    SELECT node AS host_rev,
           CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT)
               AS node_id
    FROM nodes
)
SELECT CAST(row_number() OVER (
           ORDER BY r.rank_i DESC, r.node ASC
       ) - 1 AS BIGINT) AS rank_ordinal,
       i.node_id, i.host_rev,
       round(r.rank_i / 1000000.0, 6) AS pagerank
FROM r{iterations} r JOIN ids i ON r.node = i.host_rev
ORDER BY rank_ordinal
"""


def _pagerank_sql(iterations: int = 3) -> str:
    # fixed-point bigint ranks (1.0 == 1e6) with truncating division:
    # exact integer math -> engine- and order-independent results
    sql = (
        "WITH "
        + _edges_cte()
        + ", r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_i FROM nodes)"
    )
    for i in range(1, iterations + 1):
        sql += f""",
r{i} AS (
    SELECT n.node,
           CAST(150000 + (coalesce(s.recv, 0) * 85) // 100 AS BIGINT) AS rank_i
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_i // d.out_cnt) AS recv
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    ) s ON n.node = s.node
)"""
    return sql + (
        f"\nSELECT node, round(rank_i / 1000000.0, 6) AS rank"
        f" FROM r{iterations} ORDER BY node"
    )


def _opic_sql(iterations: int = 4) -> str:
    # OPIC cash/history circulation, unrolled per round like
    # _pagerank_sql: fixed-point bigint cash, truncating //, dangling
    # cash split evenly across all nodes (scalar subqueries mirror the
    # operator's 1-row broadcasts)
    sql = (
        "WITH "
        + _edges_cte()
        + """, nn AS (SELECT count(*) AS n FROM nodes),
dangnodes AS (
    SELECT node FROM nodes
    WHERE node NOT IN (SELECT src FROM outdeg)
), c0 AS MATERIALIZED (
    SELECT node, CAST(1000000 AS BIGINT) AS cash,
           CAST(0 AS BIGINT) AS hist FROM nodes
)"""
    )
    for i in range(1, iterations + 1):
        # the dangling share is hoisted into its own 1-row CTE per
        # round (a per-row scalar subquery re-evaluates and made the
        # sf0.1 oracle ~10x slower)
        sql += f""",
d{i} AS MATERIALIZED (
    SELECT COALESCE(sum(c.cash), 0) // (SELECT n FROM nn) AS share
    FROM c{i - 1} c JOIN dangnodes dg ON c.node = dg.node
),
c{i} AS MATERIALIZED (
    SELECT n.node,
           CAST(COALESCE(s.recv, 0) + d.share AS BIGINT) AS cash,
           CAST(p.hist + p.cash AS BIGINT) AS hist
    FROM nodes n
    CROSS JOIN d{i} d
    LEFT JOIN (
        SELECT e.dst AS node, sum(c.cash // o.out_cnt) AS recv
        FROM edges e
        JOIN c{i - 1} c ON e.src = c.node
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ) s ON n.node = s.node
    JOIN c{i - 1} p ON n.node = p.node
)"""
    return sql + (
        f"\nSELECT node, cash AS cash_micro, hist AS hist_micro"
        f" FROM c{iterations} ORDER BY node"
    )


def _ppr_sql(iterations: int = 3, seed_mod: int = 50) -> str:
    """graph_pagerank_personalized oracle: the _pagerank_sql chain
    with the restart mass gated on seed membership (node % seed_mod
    = 0) and a zero init for non-seeds."""
    seed = f"(node % {seed_mod} = 0)"
    nseed = f"(n.node % {seed_mod} = 0)"
    sql = (
        "WITH "
        + _edges_cte()
        + f""", r0 AS (SELECT node,
           CAST(CASE WHEN {seed} THEN 1000000 ELSE 0 END AS BIGINT)
               AS rank_i FROM nodes)"""
    )
    for i in range(1, iterations + 1):
        sql += f""",
r{i} AS (
    SELECT n.node,
           CAST(CASE WHEN {nseed} THEN 150000 ELSE 0 END
                + (coalesce(s.recv, 0) * 85) // 100 AS BIGINT) AS rank_i
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_i // d.out_cnt) AS recv
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    ) s ON n.node = s.node
)"""
    return sql + (
        f"\nSELECT node, (node % {seed_mod} = 0) AS is_seed,"
        f" round(rank_i / 1000000.0, 6) AS rank"
        f" FROM r{iterations} ORDER BY node"
    )


def _pagerank_converged_sql(
    eps_i: int = 10_000,
    damp_num: int = 50,
    damp_den: int = 100,
    max_iter: int = 30,
    steps_per_check: int = 2,
) -> str:
    """Run-to-convergence PageRank oracle: unroll max_iter fixed-point
    iterations, compute each round's exact integer max-delta, pick the
    FIRST round at or below eps_i -- the same data-driven stopping
    rule graph.pagerank_converged applies via its Observation (both
    sides are exact bigint arithmetic, so the chosen round and every
    rank agree bit-for-bit)."""
    base_i = (damp_den - damp_num) * 1_000_000 // damp_den
    sql = (
        "WITH "
        + _edges_cte()
        + ", r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_i FROM nodes)"
    )
    for i in range(1, max_iter + 1):
        # AS MATERIALIZED: each r{i} is referenced by r{i+1}, d{i},
        # d{i+1} and allr -- DuckDB's default CTE inlining would expand
        # the chain exponentially (measured 2x wall per 2 iterations)
        sql += f""",
r{i} AS MATERIALIZED (
    SELECT n.node,
           CAST({base_i} + (coalesce(s.recv, 0) * {damp_num}) // {damp_den}
                AS BIGINT) AS rank_i
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_i // d.out_cnt) AS recv
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    ) s ON n.node = s.node
),
d{i} AS (
    SELECT {i} AS k, max(abs(a.rank_i - b.rank_i)) AS delta
    FROM r{i} a JOIN r{i - 1} b ON a.node = b.node
)"""
    deltas = " UNION ALL ".join(
        f"SELECT k, delta FROM d{i}" for i in range(1, max_iter + 1)
    )
    allr = " UNION ALL ".join(
        f"SELECT {i} AS k, node, rank_i FROM r{i}"
        for i in range(1, max_iter + 1)
    )
    return sql + f""",
pick AS (
    -- the engine checks the delta only every steps_per_check
    -- iterations (batched checkpoint jobs), so only those multiples
    -- are eligible stopping points
    SELECT coalesce(min(k), {max_iter}) AS k
    FROM ({deltas})
    WHERE delta <= {eps_i} AND k % {steps_per_check} = 0
),
allr AS ({allr})
SELECT node, round(rank_i / 1000000.0, 6) AS rank,
       CAST((SELECT k FROM pick) AS INT) AS iterations
FROM allr WHERE k = (SELECT k FROM pick) ORDER BY node
"""


def _kmeans_sql(
    k: int = 8, max_iter: int = 15, eps: int = 10_000
) -> str:
    """Unrolled exact-integer Lloyd's k-means oracle mirroring
    similarity.kmeans_exact: micro-unit + offset quantization (all
    values nonnegative so truncating and flooring division agree),
    argmin ties to the lowest cluster id, truncating-integer centroid
    means, empty clusters carry forward, first iteration with
    max-delta <= eps wins (else the cap). AS MATERIALIZED throughout:
    DuckDB's default CTE inlining expands an iteration chain
    exponentially."""
    off = 1 << 20
    sql = f"""WITH pts AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) + {off} AS q
    FROM embeddings
),
seeds AS (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
    FROM embeddings ORDER BY vec_id LIMIT {k}
),
c0 AS MATERIALIZED (
    SELECT s.cid, p.dim, p.q AS c FROM seeds s JOIN pts p USING (vec_id)
)"""
    for i in range(1, max_iter + 1):
        sql += f""",
d{i} AS (
    SELECT p.vec_id, c.cid,
           sum((p.q - c.c) * (p.q - c.c)) AS dist
    FROM pts p JOIN c{i - 1} c USING (dim) GROUP BY 1, 2
),
a{i} AS MATERIALIZED (
    SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{i}
    ) WHERE rn = 1
),
c{i} AS MATERIALIZED (
    SELECT o.cid, o.dim, CAST(coalesce(n.cn, o.c) AS BIGINT) AS c
    FROM c{i - 1} o LEFT JOIN (
        SELECT a.cluster AS cid, p.dim, sum(p.q) // count(*) AS cn
        FROM a{i} a JOIN pts p USING (vec_id) GROUP BY 1, 2
    ) n ON o.cid = n.cid AND o.dim = n.dim
),
delta{i} AS (
    SELECT {i} AS it, max(abs(a.c - b.c)) AS delta
    FROM c{i} a JOIN c{i - 1} b ON a.cid = b.cid AND a.dim = b.dim
)"""
    deltas = " UNION ALL ".join(
        f"SELECT it, delta FROM delta{i}" for i in range(1, max_iter + 1)
    )
    alls = " UNION ALL ".join(
        f"SELECT {i} AS it, vec_id, cluster FROM a{i}"
        for i in range(1, max_iter + 1)
    )
    return sql + f""",
pick AS (
    SELECT coalesce(min(it), {max_iter}) AS it
    FROM ({deltas}) WHERE delta <= {eps}
),
alla AS ({alls}),
assign AS (
    SELECT vec_id, CAST(cluster AS INT) AS cluster,
           CAST((SELECT it FROM pick) AS INT) AS iterations
    FROM alla WHERE it = (SELECT it FROM pick)
)
SELECT vec_id, cluster, iterations FROM assign ORDER BY vec_id
"""


def _semantic_dedup_sql(threshold: float = 0.35) -> str:
    """SemDeDup oracle: the unrolled exact-integer k-means chain
    provides bit-identical block boundaries, then within-cluster
    pairwise cosine (the same round(list_cosine_similarity, 4)
    discipline as dedup_embedding_cosine) and the keep-lowest drop
    rule."""
    kmeans = _kmeans_sql()
    # everything up to (not including) the final SELECT is the WITH
    # chain ending in the `assign` CTE's closing paren
    body = kmeans[: kmeans.rindex("SELECT vec_id, cluster, iterations")]
    return body.rstrip() + f""",
blk AS MATERIALIZED (
    SELECT e.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS emb
    FROM embeddings e JOIN assign a USING (vec_id)
),
dup AS (
    SELECT DISTINCT b.vec_id
    FROM blk a JOIN blk b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= {threshold}
)
SELECT c.vec_id, c.cluster,
       CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS action
FROM assign c LEFT JOIN dup d USING (vec_id) ORDER BY c.vec_id
"""


def _bpe_cte_body(num_merges: int = 6) -> str:
    """Unrolled BPE merge learning mirroring operators/bpe.py: the
    word-frequency table in delimited form ('(h)(e)(l)(l)(o)(#)'),
    then per merge round adjacent-pair counts (unnest(generate_series)
    carrying the hoisted symbol array), the argmax pair by
    (count DESC, left, right), and a plain `replace` of '(l)(r)' with
    '(lr)' -- leftmost non-overlapping in both engines, so the greedy
    one-pass merge is bit-identical. AS MATERIALIZED throughout (the
    iteration-chain discipline of _kmeans_sql)."""
    sql = r"""WITH wf AS MATERIALIZED (
    SELECT regexp_replace(word, '(.)', '(\1)', 'g') || '(#)' AS w,
           count(*) AS cnt
    FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
    ) GROUP BY word
),
a0 AS MATERIALIZED (SELECT w, cnt FROM wf)"""
    for i in range(1, num_merges + 1):
        sql += rf""",
p{i} AS (
    SELECT arr[i] AS l, arr[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
    FROM (
        SELECT arr, cnt, unnest(generate_series(1, len(arr) - 1)) AS i
        FROM (
            SELECT regexp_extract_all(w, '\(([a-z0-9#]+)\)', 1) AS arr, cnt
            FROM a{i - 1}
        )
    ) GROUP BY 1, 2
),
b{i} AS MATERIALIZED (
    SELECT l, r, '(' || l || ')(' || r || ')' AS pat,
           '(' || l || r || ')' AS rep, c
    FROM p{i} ORDER BY c DESC, l, r LIMIT 1
),
a{i} AS MATERIALIZED (
    SELECT replace(w, (SELECT pat FROM b{i}), (SELECT rep FROM b{i})) AS w,
           cnt
    FROM a{i - 1}
)"""
    return sql


def _bpe_merges_sql(num_merges: int = 6) -> str:
    union = " UNION ALL ".join(
        f"SELECT {i} AS rank, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, c AS pair_count FROM b{i}"
        for i in range(1, num_merges + 1)
    )
    return _bpe_cte_body(num_merges) + f"""
SELECT * FROM ({union}) ORDER BY rank
"""


def _bpe_doccounts_cte(num_merges: int = 6) -> str:
    # each step guards the scalar subquery: on a degenerate corpus a
    # round can learn no merge (empty bN), and replace(w, NULL, NULL)
    # would NULL-poison every word where the Spark side simply stops
    # merging -- CASE keeps the engines identical
    sql = _bpe_cte_body(num_merges) + r""",
dw0 AS (
    SELECT doc_id,
           regexp_replace(word, '(.)', '(\1)', 'g') || '(#)' AS w
    FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
    )
)"""
    for i in range(1, num_merges + 1):
        sql += f""",
dw{i} AS (
    SELECT doc_id,
           CASE WHEN (SELECT pat FROM b{i}) IS NULL THEN w
                ELSE replace(w, (SELECT pat FROM b{i}),
                             (SELECT rep FROM b{i})) END AS w
    FROM dw{i - 1}
)"""
    return sql + rf""",
docw AS (SELECT doc_id, w FROM dw{num_merges}),
cnts AS (
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(len(regexp_extract_all(w, '\(([a-z0-9#]+)\)', 1)))
                AS BIGINT) AS n_tokens
    FROM docw GROUP BY doc_id
),
percounts AS (
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(coalesce(c.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens
    FROM documents d LEFT JOIN cnts c USING (doc_id)
)
"""


def _bpe_encode_sql(num_merges: int = 6) -> str:
    return _bpe_doccounts_cte(num_merges) + """
SELECT doc_id, n_words, n_tokens
FROM percounts ORDER BY doc_id
"""


def _bpe_fertility_sql(num_merges: int = 6) -> str:
    # truncating integer division: DuckDB // on HUGEINT == Spark DIV
    # (all quantities non-negative here)
    return _bpe_doccounts_cte(num_merges) + """
, agg AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM percounts GROUP BY lang
)
SELECT lang, docs, words, tokens,
       CASE WHEN words > 0
            THEN CAST(tokens * 1000000 // words AS BIGINT) END
           AS fertility_micro,
       CASE WHEN tokens > 0
            THEN CAST(chars * 1000000 // tokens AS BIGINT) END
           AS chars_per_token_micro
FROM agg ORDER BY lang
"""


def _pagerank_rootavg_sql(iterations: int = 2) -> str:
    sql = (
        "WITH "
        + _edges_cte()
        + """,
super_roots AS (
    SELECT root FROM (
        SELECT node % 97 AS root, count(DISTINCT node) AS node_count
        FROM nodes GROUP BY 1
    ) WHERE node_count > 25
),
edge_w AS (
    SELECT e.src, e.dst, d.out_cnt, e.src % 97 AS src_root,
           (e.src % 97) IN (SELECT root FROM super_roots) AS is_super
    FROM edges e JOIN outdeg d ON e.src = d.src
),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_i FROM nodes)"""
    )
    for i in range(1, iterations + 1):
        sql += f""",
r{i} AS (
    SELECT n.node,
           CAST(150000 + (coalesce(s.recv, 0) * 85) // 100 AS BIGINT) AS rank_i
    FROM nodes n LEFT JOIN (
        SELECT dst AS node,
               sum(CASE WHEN is_super THEN ssum ELSE ssum // cnt END) AS recv
        FROM (
            SELECT e.dst, e.src_root, e.is_super,
                   sum(r.rank_i // e.out_cnt) AS ssum,
                   count(*) AS cnt
            FROM edge_w e JOIN r{i - 1} r ON e.src = r.node
            GROUP BY 1, 2, 3
        ) GROUP BY dst
    ) s ON n.node = s.node
)"""
    return sql + (
        f"\nSELECT node, round(rank_i / 1000000.0, 6) AS rank"
        f" FROM r{iterations} ORDER BY node"
    )


# batch merge semantics; also the oracle for the incremental split
# (merging two capped sorted sample lists and re-capping equals the
# cap of the full list, since each side keeps its smallest 100)
_CRAWLDB_MERGE_SQL = """
WITH typed AS (
    SELECT user_id AS key, event_id AS record_id, ts, value,
           CASE WHEN event_type IN ('click', 'purchase') THEN 11
                WHEN event_type = 'view' THEN 12
                WHEN event_type = 'signup' THEN 14
                ELSE 15 END AS record_type
    FROM events
),
status AS (
    SELECT key, record_id AS last_attempt_id, ts AS last_attempt_ts,
           round(value, 6) AS last_attempt_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY ts DESC, record_id DESC
        ) AS rn
        FROM typed WHERE record_type = 11
    ) WHERE rn = 1
),
agg AS (
    SELECT key,
           CAST(sum(CASE WHEN record_type = 11 THEN 1 ELSE 0 END) AS BIGINT) AS attempt_count,
           CAST(sum(CASE WHEN record_type = 12 THEN 1 ELSE 0 END) AS BIGINT) AS html_link_count,
           CAST(sum(CASE WHEN record_type = 14 THEN 1 ELSE 0 END) AS BIGINT) AS rss_link_count,
           min(CASE WHEN record_type IN (12, 13, 14) THEN ts END)
               AS earliest_link_date,
           max(CASE WHEN record_type IN (12, 13, 14) THEN ts END)
               AS latest_link_date,
           coalesce(array_to_string(
               list_sort(list(record_id) FILTER (record_type = 15))[1:100], ','
           ), '') AS source_samples
    FROM typed GROUP BY key
)
SELECT a.key, a.attempt_count, s.last_attempt_id, s.last_attempt_ts,
       s.last_attempt_value, a.html_link_count, a.rss_link_count,
       a.earliest_link_date, a.latest_link_date, a.source_samples
FROM agg a LEFT JOIN status s ON a.key = s.key
ORDER BY a.key
"""

_CC_SQL = (
    "WITH RECURSIVE "
    + _edges_cte(95000.0)
    + """,
und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
lp(node, comp) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
)
SELECT node, min(comp) AS comp FROM lp GROUP BY node ORDER BY node"""
)


# ---- md5-twin LSH oracle SQL (mirrors operators/dedup.py md5_* tier;
# md5 / hex-parse / bit_count / xor agree bit-for-bit across engines)

_MD5_TOKS_CTE = """
tp AS (
    SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS t1
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS v
          FROM documents)
),
tpf AS (SELECT * FROM tp WHERE t1 <> ''),
toks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               t1 || ' ' || lead(t1, 1) OVER w || ' ' || lead(t1, 2) OVER w AS tok
        FROM tpf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE tok IS NOT NULL
)"""


def _md5_simhash_cte(bits: int = 60, bands: int = 4, band_bits: int = 15) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    bitsum = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    mask = (1 << band_bits) - 1
    bandsarr = ", ".join(
        f"(sketch >> {i * band_bits}) & {mask}" for i in range(bands)
    )
    return f"""{_MD5_TOKS_CTE},
hs AS (SELECT doc_id, CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT) AS h FROM toks),
s AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id),
sk AS (SELECT doc_id, {bitsum} AS sketch FROM s),
bnd0 AS (SELECT doc_id, sketch, generate_subscripts(v, 1) AS pos, unnest(v) AS band
         FROM (SELECT doc_id, sketch, list_value({bandsarr}) AS v FROM sk)),
bnd AS (SELECT doc_id, sketch, pos, band FROM (
            SELECT *, count(*) OVER (PARTITION BY pos, band) AS bsz FROM bnd0
        ) WHERE bsz <= 1000),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                x.sketch AS sk_a, y.sketch AS sk_b
         FROM bnd x JOIN bnd y
           ON x.pos = y.pos AND x.band = y.band AND x.doc_id < y.doc_id)"""


def _md5_simhash_pairs_sql(hamming_k: int = 6) -> str:
    return f"""
WITH {_md5_simhash_cte()}
SELECT doc_a, doc_b, CAST(bit_count(xor(sk_a, sk_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sk_a, sk_b)) <= {hamming_k}
ORDER BY doc_a, doc_b
"""


def _md5_simhash_clusters_sql(hamming_k: int = 6) -> str:
    return f"""
WITH RECURSIVE {_md5_simhash_cte()},
pairs AS (SELECT doc_a, doc_b FROM cand
          WHERE bit_count(xor(sk_a, sk_b)) <= {hamming_k}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
lp(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
)
SELECT node AS doc_id, min(comp) AS cluster FROM lp GROUP BY node ORDER BY doc_id
"""


def _cluster_reps_sql(hamming_k: int = 3) -> str:
    """cluster_representatives over the md5-simhash clustering: the
    clusters CTE plus proven-parity token counting and a per-cluster
    rank/size window."""
    return f"""
WITH RECURSIVE {_md5_simhash_cte()},
pairs AS (SELECT doc_a, doc_b FROM cand
          WHERE bit_count(xor(sk_a, sk_b)) <= {hamming_k}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
lp(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
),
comp AS (SELECT node AS doc_id, min(comp) AS cluster FROM lp GROUP BY node),
tok AS (SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                   AS tokens
        FROM documents),
r AS (
    SELECT c.cluster, c.doc_id, t.tokens,
           row_number() OVER (
               PARTITION BY c.cluster ORDER BY t.tokens DESC, c.doc_id
           ) AS rnk,
           count(*) OVER (PARTITION BY c.cluster) AS cluster_size
    FROM comp c JOIN tok t ON c.doc_id = t.doc_id
)
SELECT cluster, doc_id AS rep_doc_id, tokens AS rep_tokens,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM r WHERE rnk = 1 ORDER BY cluster
"""


def _corpus_build_sql(
    benchmark_mod: int = 37,
    min_tokens: int = 20,
    hamming_k: int = 3,
    n: int = 5,
    min_shared: int = 3,
) -> str:
    """Composed corpus-hygiene oracle: clusters -> representatives ->
    decontamination -> quality floor -> per-source manifest.
    Contamination CTEs are c-prefixed to avoid colliding with the
    simhash tokenizer CTE names."""
    chain = " || ' ' || ".join(
        ["t1"] + [f"lead(t1, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
WITH RECURSIVE {_md5_simhash_cte()},
pairs AS (SELECT doc_a, doc_b FROM cand
          WHERE bit_count(xor(sk_a, sk_b)) <= {hamming_k}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
lp(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
),
comp AS (SELECT node AS doc_id, min(comp) AS cluster FROM lp GROUP BY node),
tok AS (SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                   AS tokens
        FROM documents),
r AS (
    SELECT c.cluster, c.doc_id, t.tokens,
           row_number() OVER (
               PARTITION BY c.cluster ORDER BY t.tokens DESC, c.doc_id
           ) AS rnk
    FROM comp c JOIN tok t ON c.doc_id = t.doc_id
    WHERE c.doc_id % {benchmark_mod} <> 0
),
reps AS (SELECT doc_id FROM r WHERE rnk = 1),
ctp AS (SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS t1
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS v
              FROM documents)),
ctpf AS (SELECT * FROM ctp WHERE t1 <> ''),
csh AS (SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, {chain} AS s
            FROM ctpf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE s IS NOT NULL),
cbench AS (SELECT DISTINCT s FROM csh WHERE doc_id % {benchmark_mod} = 0),
contaminated AS (
    SELECT t.doc_id FROM csh t JOIN cbench b ON t.s = b.s
    WHERE t.doc_id % {benchmark_mod} <> 0
    GROUP BY t.doc_id HAVING count(*) >= {min_shared}
),
kept AS (
    SELECT d.doc_id, d.source, t.tokens
    FROM documents d JOIN tok t ON d.doc_id = t.doc_id
    WHERE d.doc_id % {benchmark_mod} <> 0
      AND d.doc_id IN (SELECT doc_id FROM reps)
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND t.tokens >= {min_tokens}
)
SELECT source, count(*) AS docs, CAST(sum(tokens) AS BIGINT) AS tokens
FROM kept GROUP BY source ORDER BY source
"""


def _md5_minhash_pairs_sql(perms: int = 16, min_matching: int = 13) -> str:
    from commoncrawl_crawler_spark.operators.dedup import minhash_perm_constants

    base = "(CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT) % 2147483647)"
    mins = ", ".join(
        f"min(({base} * {a} + {b}) % 2305843009213693951) AS m{p}"
        for p, (a, b) in enumerate(minhash_perm_constants(perms))
    )
    bandsarr = ", ".join(
        f"CAST(m{2 * i} AS VARCHAR) || '_' || CAST(m{2 * i + 1} AS VARCHAR)"
        for i in range(perms // 2)
    )
    matching = " + ".join(
        f"(CASE WHEN a.m{p} = c.m{p} THEN 1 ELSE 0 END)" for p in range(perms)
    )
    return f"""
WITH {_MD5_TOKS_CTE},
sig AS (SELECT doc_id, {mins} FROM toks GROUP BY doc_id),
bnd0 AS (SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS bkey
         FROM (SELECT doc_id, list_value({bandsarr}) AS v FROM sig)),
bnd AS (SELECT doc_id, pos, bkey FROM (
            SELECT *, count(*) OVER (PARTITION BY pos, bkey) AS bsz FROM bnd0
        ) WHERE bsz <= 1000),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bnd x JOIN bnd y
           ON x.pos = y.pos AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
scored AS (SELECT doc_a, doc_b, {matching} AS matching
           FROM cand JOIN sig a ON cand.doc_a = a.doc_id
                     JOIN sig c ON cand.doc_b = c.doc_id)
SELECT doc_a, doc_b, matching,
       round(matching / {float(perms)}, 6) AS est_jaccard
FROM scored WHERE matching >= {min_matching}
ORDER BY doc_a, doc_b
"""


def _sketch_quality_sql(perms: int = 16, min_matching: int = 13) -> str:
    """minhash_quality_report oracle: the sketch pair CTEs + an exact
    token-join Jaccard side at the matched threshold, reduced to one
    tp/fp/fn row with integer micro-unit precision/recall."""
    from commoncrawl_crawler_spark.operators.dedup import minhash_perm_constants

    base = "(CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT) % 2147483647)"
    mins = ", ".join(
        f"min(({base} * {a} + {b}) % 2305843009213693951) AS m{p}"
        for p, (a, b) in enumerate(minhash_perm_constants(perms))
    )
    bandsarr = ", ".join(
        f"CAST(m{2 * i} AS VARCHAR) || '_' || CAST(m{2 * i + 1} AS VARCHAR)"
        for i in range(perms // 2)
    )
    matching = " + ".join(
        f"(CASE WHEN a.m{p} = c.m{p} THEN 1 ELSE 0 END)" for p in range(perms)
    )
    return f"""
WITH {_MD5_TOKS_CTE},
sig AS (SELECT doc_id, {mins} FROM toks GROUP BY doc_id),
bnd0 AS (SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS bkey
         FROM (SELECT doc_id, list_value({bandsarr}) AS v FROM sig)),
bnd AS (SELECT doc_id, pos, bkey FROM (
            SELECT *, count(*) OVER (PARTITION BY pos, bkey) AS bsz FROM bnd0
        ) WHERE bsz <= 1000),
scand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bnd x JOIN bnd y
            ON x.pos = y.pos AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
sketch AS (SELECT doc_a, doc_b FROM (
             SELECT doc_a, doc_b, {matching} AS matching
             FROM scand JOIN sig a ON scand.doc_a = a.doc_id
                        JOIN sig c ON scand.doc_b = c.doc_id
           ) WHERE matching >= {min_matching}),
sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
exact AS (SELECT inter.doc_a, inter.doc_b
          FROM inter JOIN sz sa ON inter.doc_a = sa.doc_id
                     JOIN sz sb ON inter.doc_b = sb.doc_id
          WHERE inter.i * {perms} >= (sa.n + sb.n - inter.i) * {min_matching}),
conf AS (SELECT
    CAST(count(CASE WHEN e.doc_a IS NOT NULL AND s.doc_a IS NOT NULL
                    THEN 1 END) AS BIGINT) AS tp,
    CAST(count(CASE WHEN e.doc_a IS NULL AND s.doc_a IS NOT NULL
                    THEN 1 END) AS BIGINT) AS fp,
    CAST(count(CASE WHEN e.doc_a IS NOT NULL AND s.doc_a IS NULL
                    THEN 1 END) AS BIGINT) AS fn
    FROM exact e FULL OUTER JOIN sketch s
      ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b)
SELECT CAST({perms} AS INT) AS perms,
       CAST({min_matching} AS INT) AS min_matching,
       tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE CAST((tp * 1000000) // (tp + fp) AS BIGINT)
       END AS precision_micro,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE CAST((tp * 1000000) // (tp + fn) AS BIGINT)
       END AS recall_micro
FROM conf
"""


def _md5_minhash_clusters_sql(perms: int = 16, min_matching: int = 13) -> str:
    """md5_minhash_clusters oracle: the minhash pair CTEs + recursive
    min-label propagation (the same SetUnionFinder shape as the
    simhash clusters oracle)."""
    from commoncrawl_crawler_spark.operators.dedup import minhash_perm_constants

    base = "(CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT) % 2147483647)"
    mins = ", ".join(
        f"min(({base} * {a} + {b}) % 2305843009213693951) AS m{p}"
        for p, (a, b) in enumerate(minhash_perm_constants(perms))
    )
    bandsarr = ", ".join(
        f"CAST(m{2 * i} AS VARCHAR) || '_' || CAST(m{2 * i + 1} AS VARCHAR)"
        for i in range(perms // 2)
    )
    matching = " + ".join(
        f"(CASE WHEN a.m{p} = c.m{p} THEN 1 ELSE 0 END)" for p in range(perms)
    )
    return f"""
WITH RECURSIVE {_MD5_TOKS_CTE},
sig AS (SELECT doc_id, {mins} FROM toks GROUP BY doc_id),
bnd0 AS (SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS bkey
         FROM (SELECT doc_id, list_value({bandsarr}) AS v FROM sig)),
bnd AS (SELECT doc_id, pos, bkey FROM (
            SELECT *, count(*) OVER (PARTITION BY pos, bkey) AS bsz FROM bnd0
        ) WHERE bsz <= 1000),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bnd x JOIN bnd y
           ON x.pos = y.pos AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
pairs AS (SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b, {matching} AS matching
            FROM cand JOIN sig a ON cand.doc_a = a.doc_id
                      JOIN sig c ON cand.doc_b = c.doc_id
          ) WHERE matching >= {min_matching}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
lp(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
)
SELECT node AS doc_id, min(comp) AS cluster FROM lp GROUP BY node ORDER BY doc_id
"""


# 5-gram word-shingle sets, the unit of the prefix-filtered joins:
# mirrors dedup._ws_token_sets (DuckDB list slicing is 1-based
# INCLUSIVE, so ws[i:i+4] is the 5 words at i..i+4, and the
# comprehension's range() upper bound is exclusive like Spark's
# sequence(1, len-4) inclusive upper)
_SHINGLE_SETS_CTE = """
w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM documents),
t AS (SELECT doc_id, tokens, len(tokens) AS n FROM (
        SELECT doc_id,
               list_distinct([array_to_string(ws[i:i+4], ' ')
                              for i in range(1, len(ws) - 3)]) AS tokens
        FROM w WHERE len(ws) >= 5)),
tokrows AS (SELECT doc_id, n, unnest(tokens) AS tok FROM t)
"""


def _setsim_prefix_sql(num: int = 1, den: int = 2) -> str:
    """dedup_setsim_prefix oracle. Deliberately INDEPENDENT of the
    prefix filter: candidates are every pair sharing ANY shingle
    (bounded, because 5-gram shingles are near-unique), so a bug in
    the Spark side's prefix-length math would surface as a missing
    pair here. Same integer thresholds; // truncates like Spark DIV
    on the nonnegative operands."""
    return f"""
WITH {_SHINGLE_SETS_CTE},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM tokrows a JOIN tokrows b
           ON a.tok = b.tok AND a.doc_id < b.doc_id
              AND a.n * {den} >= b.n * {num}
              AND b.n * {den} >= a.n * {num}),
v AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(ta.tokens, tb.tokens)) AS BIGINT)
                 AS inter_size,
             CAST(ta.n + tb.n - len(list_intersect(ta.tokens, tb.tokens))
                  AS BIGINT) AS union_size
      FROM cand c JOIN t ta ON ta.doc_id = c.doc_a
                  JOIN t tb ON tb.doc_id = c.doc_b)
SELECT doc_a, doc_b, inter_size, union_size,
       CAST((inter_size * 1000000) // union_size AS BIGINT) AS jaccard_micro
FROM v WHERE inter_size * {den} >= union_size * {num}
ORDER BY doc_a, doc_b
"""


def _containment_sql(num: int = 1, den: int = 2) -> str:
    """text_containment_pairs oracle: directed |A∩B|/|A| >= num/den
    over the shared-shingle candidate set (independent of the Spark
    side's asymmetric prefix filter)."""
    return f"""
WITH {_SHINGLE_SETS_CTE},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM tokrows a JOIN tokrows b
           ON a.tok = b.tok AND a.doc_id <> b.doc_id
              AND b.n * {den} >= a.n * {num}),
v AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(ta.tokens, tb.tokens)) AS BIGINT)
                 AS inter_size,
             CAST(ta.n AS BIGINT) AS size_a
      FROM cand c JOIN t ta ON ta.doc_id = c.doc_a
                  JOIN t tb ON tb.doc_id = c.doc_b)
SELECT doc_a, doc_b, inter_size, size_a,
       CAST((inter_size * 1000000) // size_a AS BIGINT) AS containment_micro
FROM v WHERE inter_size * {den} >= size_a * {num}
ORDER BY doc_a, doc_b
"""


def _contamination_sql(n: int = 5, min_shared: int = 3) -> str:
    """Mirror of textstats.contamination_check: n-token shingle windows
    via a lead() chain (|| propagates NULL in DuckDB like F.concat)."""
    chain = " || ' ' || ".join(
        ["t1"] + [f"lead(t1, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
        WITH tp AS (
            SELECT doc_id, generate_subscripts(v, 1) AS pos, unnest(v) AS t1
            FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS v
                  FROM documents)
        ), tpf AS (SELECT * FROM tp WHERE t1 <> ''),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id, {chain} AS s
                FROM tpf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ) WHERE s IS NOT NULL
        ),
        bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
        hits AS (
            SELECT t.doc_id, count(*) AS shared_ngrams
            FROM sh t JOIN bench b ON t.s = b.s
            WHERE t.doc_id % 37 <> 0
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.shared_ngrams, 0) AS BIGINT) AS shared_ngrams,
               coalesce(h.shared_ngrams, 0) >= {min_shared} AS contaminated
        FROM documents d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 37 <> 0
        ORDER BY d.doc_id
    """


_FILTERED_GENERATE_SQL = """
            WITH urls AS (
                SELECT o_orderkey AS key,
                       'd' || CAST(o_orderkey % 20 AS VARCHAR) || '.com'
                           AS root_domain,
                       CASE WHEN o_orderkey % 3 = 0 THEN 'shop.'
                            ELSE 'www.' END
                           || 'd' || CAST(o_orderkey % 20 AS VARCHAR)
                           || '.com' AS domain,
                       CASE WHEN o_orderkey % 10 = 0 THEN '/'
                            WHEN o_orderkey % 10 = 1 THEN '/index.html'
                            ELSE '/p/' || CAST(o_orderkey % 100 AS VARCHAR)
                       END AS path
                FROM orders
            ), boost_rules(root_domain, domain_regex, path_regex, val) AS (
                VALUES ('*', '', '/p/[0-9]+', 2.0),
                       ('d3.com', '', '.*', 1.5),
                       ('d15.com', 'www\\..*', '/p/1[0-9]', 1.0)
            ), rate_rules(root_domain, domain_regex, path_regex, val) AS (
                VALUES ('d3.com', '*', '*', 50.0),
                       ('d7.com', 'shop\\..*', '*', 1000.0),
                       ('d3.com', '*', '/p/.*', 25.0)
            ), recrawl_rules(root_domain, domain_regex, path_regex, val) AS (
                VALUES ('*', '', '(^/$)|(^/index\\.[^/]*$)', 86400.0),
                       ('d9.com', '', '.*', 3600.0)
            ), bm AS (
                SELECT u.key,
                       CAST(round(sum(r.val), 6) AS DOUBLE) AS pagerank_boost
                FROM urls u JOIN boost_rules r
                  ON (r.root_domain IN ('*', '.*')
                      OR r.root_domain = u.root_domain)
                 AND (r.domain_regex = ''
                      OR regexp_full_match(u.domain, r.domain_regex))
                 AND regexp_full_match(u.path, r.path_regex)
                GROUP BY u.key
            ), rm AS (
                SELECT u.key, CAST(min(r.val) AS INT) AS crawl_rate_override
                FROM urls u JOIN rate_rules r
                  ON (r.root_domain IN ('*', '.*')
                      OR r.root_domain = u.root_domain)
                 AND (CASE WHEN r.domain_regex IN ('', '*') THEN TRUE
                      ELSE regexp_full_match(u.domain, r.domain_regex) END)
                 AND (CASE WHEN r.path_regex = '*' THEN TRUE
                      ELSE regexp_full_match(u.path, r.path_regex) END)
                GROUP BY u.key
            ), tm AS (
                SELECT u.key,
                       CAST(min(r.val) AS BIGINT) AS modified_recrawl_time
                FROM urls u JOIN recrawl_rules r
                  ON (r.root_domain IN ('*', '.*')
                      OR r.root_domain = u.root_domain)
                 AND (r.domain_regex = ''
                      OR regexp_full_match(u.domain, r.domain_regex))
                 AND regexp_full_match(u.path, r.path_regex)
                GROUP BY u.key
            )
            SELECT u.key, u.root_domain, u.domain, u.path,
                   bm.pagerank_boost, rm.crawl_rate_override,
                   tm.modified_recrawl_time
            FROM urls u
            LEFT JOIN bm ON u.key = bm.key
            LEFT JOIN rm ON u.key = rm.key
            LEFT JOIN tm ON u.key = tm.key
            ORDER BY u.key
        """


def _scratch(tag: str, sf_dir: str, fresh: bool = False) -> str:
    import hashlib
    import shutil
    import tempfile

    # keyed by (sf_dir, pid): two driver processes sweeping the same
    # sf concurrently must not share scratch -- a fresh=True cleanup
    # in one would delete the other's in-flight .tmp archive chunks
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/ccspark_{tag}_{h}_{os.getpid()}"
    if fresh:
        # custom (non-Spark) writers append files; stale chunks from a
        # previous run with different partitioning would duplicate rows
        shutil.rmtree(path, ignore_errors=True)
    return path


def _stream_generational_upsert(s: SparkSession, d: str) -> DataFrame:
    """foreachBatch generational upsert (the reference's CrawlDB
    gen-N -> gen-N+1 merge as a streaming sink). Gated on the 1-in-5
    user sample like the stateful sessionize gate; the fold is
    associative, so the final table equals one batch aggregate
    regardless of micro-batch boundaries."""
    base = _scratch("genupsert", d, fresh=True)
    ckpt = _scratch("genupsert_ckpt", d, fresh=True)
    return streaming_jobs.streaming_generational_upsert(
        streaming_jobs.read_events_stream(s, d).filter(
            F.col("user_id") % 5 == 0
        ),
        base,
        ckpt,
    )


def _archive_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """documents -> ccarc gzip-member archives -> parse back (identity)."""
    tmp = _scratch("arc", d, fresh=True)
    docs = _t(s, d, "documents").select(
        F.col("doc_id").cast("string").alias("key"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    # parallel writers: the parquet scan arrives single-partition at
    # small SF, which would serialize the render+gzip (sf1 spot-bench
    # measured alpha~1.6 on the one-task write); spread by key
    archive.write_archive(
        docs.repartition(8, "key"), tmp, rotate_bytes=1 << 20
    )
    rd = archive.read_archive(s, tmp)
    return rd.select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode("payload", "UTF-8").alias("text"),
    ).transform(_share_sort).orderBy("doc_id")


def _arc_v1_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """documents -> real ARC v1 archives (filedesc:// member + per-record
    `URL IP ts14 mime length` metalines, util/ArcFileWriter.java:850-975)
    -> ArcFileBuilder-equivalent parse back. Verifies the full header
    surface: metaline tokens, TIMESTAMP14 parse, record length, and the
    reference's verbatim after-colon header values."""
    tmp = _scratch("arcv1", d, fresh=True)
    did = F.col("doc_id")
    docs = _t(s, d, "documents").select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("url"),
        F.format_string(
            "10.%d.%d.%d", did % 200, (did / 200).cast("long") % 200, did % 250
        ).alias("ip"),
        F.format_string(
            "201203%02d%02d%02d%02d",
            did % 28 + 1, did % 24, did % 60, (did * 7) % 60,
        ).alias("ts14"),
        F.lit("text/html").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.array(
            F.struct(
                F.lit("x-doc").alias("key"), did.cast("string").alias("value")
            ),
            F.struct(F.lit("lang").alias("key"), F.col("lang").alias("value")),
        ).alias("headers"),
    )
    archive.write_arc_v1(docs.repartition(8, "url"), tmp)
    rd = archive.read_arc_v1(s, tmp)
    xdoc = F.get(F.filter("headers", lambda h: h["key"] == F.lit("x-doc")), 0)
    lang = F.get(F.filter("headers", lambda h: h["key"] == F.lit("lang")), 0)
    return (
        rd.select(
            # the reference keeps after-colon values verbatim (leading
            # space included, ArcFileReader.java:744-747) -> ltrim here
            F.ltrim(xdoc["value"]).cast("long").alias("doc_id"),
            "url",
            "ip",
            "archive_date",
            "fetch_epoch_ms",
            "mime",
            "record_length",
            F.ltrim(lang["value"]).alias("lang"),
            F.decode("payload", "UTF-8").alias("text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


def _warc_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """documents -> WARC 1.0 archives (ISO 28500, the post-2013
    CommonCrawl wire format: version line + WARC-* headers +
    Content-Length-framed block per gzip member) -> parse back."""
    tmp = _scratch("warc", d, fresh=True)
    did = F.col("doc_id")
    docs = _t(s, d, "documents").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:"), did.cast("string"), F.lit(">")).alias(
            "record_id"
        ),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-02-%02dT%02d:%02d:%02dZ",
            did % 28 + 1, did % 24, did % 60, (did * 3) % 60,
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.encode("text", "UTF-8").alias("block"),
    )
    archive.write_warc(docs.repartition(8, "record_id"), tmp)
    rd = archive.read_warc(s, tmp)
    return (
        rd.select(
            F.regexp_extract("record_id", "<urn:uuid:(\\d+)>", 1)
            .cast("long")
            .alias("doc_id"),
            "warc_type",
            "target_uri",
            "warc_date",
            "content_type",
            "content_length",
            F.decode("block", "UTF-8").alias("text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


def _cdx_index_gate(s: SparkSession, d: str) -> DataFrame:
    """documents -> WARC archives -> parse -> CDX capture index (the
    cc-index artifact CommonCrawl ships beside every crawl). The gate
    projects the oracle-able columns; the seek columns (offset,
    length, filename -- gzip-layout-dependent: length is the
    compressed member size per the CDXJ ranged-GET convention) are
    pytest-validated by re-reading each member at its recorded
    [offset, offset+length) slice."""
    tmp = _scratch("cdx", d, fresh=True)
    did = F.col("doc_id")
    docs = _t(s, d, "documents").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:"), did.cast("string"), F.lit(">")).alias(
            "record_id"
        ),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-02-%02dT%02d:%02d:%02dZ",
            did % 28 + 1, did % 24, did % 60, (did * 3) % 60,
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.encode("text", "UTF-8").alias("block"),
    )
    archive.write_warc(docs.repartition(8, "record_id"), tmp)
    idx = archive.cdx_index(archive.read_warc(s, tmp))
    return idx.select(
        "urlkey", "timestamp", "original", "mime", "digest"
    ).transform(_share_sort).orderBy("urlkey", "timestamp")


def _warc_http_extract(s: SparkSession, d: str) -> DataFrame:
    """documents -> WARC response records whose blocks are REAL HTTP
    messages -> warc_http_responses (pure Column-expression payload
    split; the canonical first step of any CommonCrawl consumer)."""
    tmp = _scratch("warchttp", d, fresh=True)
    did = F.col("doc_id")
    http_block = F.encode(
        F.concat(
            F.lit("HTTP/1.1 "),
            F.when(did % 10 == 0, F.lit("404 Not Found")).otherwise(
                F.lit("200 OK")
            ),
            F.lit("\r\nServer: ref/1.0\r\nContent-Type: text/"),
            F.col("lang"),
            F.lit("; charset=utf-8\r\nX-Doc: "),
            did.cast("string"),
            F.lit("\r\n\r\n"),
            F.col("text"),
        ),
        "UTF-8",
    )
    docs = _t(s, d, "documents").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:h"), did.cast("string"), F.lit(">")).alias(
            "record_id"
        ),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/h/"),
            did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-03-%02dT%02d:%02d:00Z", did % 28 + 1, did % 24, did % 60
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        http_block.alias("block"),
    )
    archive.write_warc(docs.repartition(8, "record_id"), tmp)
    return (
        archive.warc_http_responses(archive.read_warc(s, tmp))
        .select(
            F.regexp_extract("target_uri", "/h/(\\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "target_uri",
            "warc_date",
            "status_code",
            "http_content_type",
            F.decode("body", "UTF-8").alias("text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


_WET_WAT_SRC: dict = {}


def _wet_wat_source(s: SparkSession, d: str) -> str:
    """Shared upstream for the WET/WAT gates: documents rendered as
    HTML pages inside real HTTP messages inside WARC response records
    on disk -- the exact input state a CommonCrawl derivation job
    starts from. Returns the archive directory.

    Built ONCE per (session, sf) and shared by both derivation gates
    (real WET and WAT jobs also share one WARC segment); rotation at
    256 KiB so the derivation stage gets one task per archive instead
    of one serial task total."""
    key = (s.sparkContext.applicationId, d)
    if key in _WET_WAT_SRC:
        return _WET_WAT_SRC[key]
    tmp = _scratch("wetwatsrc", d, fresh=True)
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did.cast("string"),
        F.lit("</title><script>var x = "),
        did.cast("string"),
        F.lit(';</script></head><body><p>'),
        F.col("text"),
        F.lit('</p><a href="http://'),
        F.col("source"),
        F.lit(".example.com/w/"),
        did.cast("string"),
        F.lit('">anchor '),
        F.col("lang"),
        F.lit('</a><iframe src="http://frame.'),
        F.col("source"),
        F.lit('.net"></iframe> Tail &amp; fin</body></html>'),
    )
    http_block = F.encode(
        F.concat(
            F.lit("HTTP/1.1 "),
            F.when(did % 10 == 0, F.lit("404 Not Found")).otherwise(
                F.lit("200 OK")
            ),
            F.lit("\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
            html,
        ),
        "UTF-8",
    )
    docs = _t(s, d, "documents").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:"), did.cast("string"), F.lit(">")).alias(
            "record_id"
        ),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/w/"),
            did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-04-%02dT%02d:%02d:00Z", did % 28 + 1, did % 24, did % 60
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        http_block.alias("block"),
    )
    # the sf parquet is ONE file -> one input partition -> one serial
    # writer task; spread the render+gzip across cores (the rotation
    # cap then applies per writer, same read-side contract)
    archive.write_warc(
        docs.repartition(8, "doc_id"), tmp, rotate_bytes=256 * 1024
    )
    _WET_WAT_SRC[key] = tmp
    return tmp


def _wet_extract(s: SparkSession, d: str) -> DataFrame:
    """WARC responses on disk -> wet_records derivation -> WET archive
    on disk -> read back and verify: the full produce-the-published-
    artifact cycle (text extraction, Refers-To linkage, text/plain
    conversion records) with the extraction itself pure Column exprs
    (functions/html.html_text_expr)."""
    src = _wet_wat_source(s, d)
    out = _scratch("wet", d, fresh=True)
    archive.write_warc(archive.wet_records(archive.read_warc(s, src)), out)
    rd = archive.read_warc(s, out)
    return (
        rd.select(
            F.regexp_extract("target_uri", "/w/(\\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "warc_type",
            "content_type",
            F.element_at(
                F.filter(
                    F.col("headers"),
                    lambda h: h["key"] == "WARC-Refers-To",
                ),
                1,
            )["value"].alias("refers_to"),
            F.decode("block", "UTF-8").alias("text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


def _wat_metadata(s: SparkSession, d: str) -> DataFrame:
    """WARC responses on disk -> wat_records derivation -> WAT archive
    -> read back, from_json the envelope with WAT_ENVELOPE_SCHEMA, and
    project the typed fields a WAT consumer reads (status, title,
    outlink inventory)."""
    src = _wet_wat_source(s, d)
    out = _scratch("wat", d, fresh=True)
    archive.write_warc(archive.wat_records(archive.read_warc(s, src)), out)
    rd = archive.read_warc(s, out)
    parsed = F.from_json(
        F.decode("block", "UTF-8"), archive.WAT_ENVELOPE_SCHEMA
    )
    env = parsed["Envelope"]
    container = parsed["Container"]
    meta = env["Payload-Metadata"]["HTTP-Response-Metadata"]
    return (
        rd.filter(F.col("warc_type") == "metadata")
        .select(
            F.regexp_extract("target_uri", "/w/(\\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            # Container points back into the SOURCE archive; offsets
            # are gzip-layout-dependent, so the oracle-able check is
            # the pointer-shape predicate (byte-exactness is pinned by
            # the pytest that range-reads each source record back)
            (
                container["Filename"].endswith(".warc.gz")
                & container["Compressed"]
                & (container["Offset"].cast("long") >= 0)
                & (
                    container["Gzip-Metadata"]["Deflate-Length"].cast(
                        "long"
                    )
                    > 0
                )
            ).alias("container_ok"),
            env["WARC-Header-Metadata"]["WARC-Record-ID"].alias("src_record"),
            meta["Response-Message"]["Status"].alias("status"),
            meta["Content-Type"].alias("http_content_type"),
            meta["HTML-Metadata"]["Head"]["Title"].alias("title"),
            F.size(meta["HTML-Metadata"]["Links"]).alias("n_links"),
            meta["HTML-Metadata"]["Links"][0]["url"].alias("first_link"),
            meta["HTML-Metadata"]["Links"][0]["path"].alias("first_path"),
            meta["HTML-Metadata"]["Links"][0]["text"].alias("first_text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


def _ccindex_gate(s: SparkSession, d: str) -> DataFrame:
    """WARC responses -> columnar cc-index-table rows -> hive-
    partitioned parquet (partitioned by crawl/subset, surtkey-sorted
    within files) -> read back through the partition-pruned,
    filter-pushed SQL path a real index consumer uses. The oracle
    recomputes every typed column from the documents generator."""
    src = _wet_wat_source(s, d)
    out = _scratch("ccindex", d, fresh=True)
    archive.write_ccindex(
        archive.ccindex_table(
            archive.read_warc(s, src), crawl="CC-MAIN-2024-18"
        ),
        out,
    )
    return _ccindex_project(archive.read_ccindex(s, out))


def _ccindex_project(rd: DataFrame) -> DataFrame:
    """Shared consumer projection for the batch and streaming index
    builds: partition-pruned, filter-pushed read of the typed
    columns, keyed back to doc_id for the oracle."""
    return (
        rd.filter(
            (F.col("crawl") == "CC-MAIN-2024-18")
            & (F.col("subset") == "warc")
            & (F.col("fetch_status") == 200)
        )
        .select(
            F.regexp_extract("url", "/w/(\\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "url_surtkey",
            "url_host_name",
            "url_host_reversed",
            "url_host_registered_domain",
            "url_host_tld",
            "url_path",
            "url_query",
            "fetch_time",
            "fetch_status",
            "content_mime_type",
            "content_charset",
            (
                F.col("warc_filename").isNotNull()
                & (F.col("warc_record_offset") >= 0)
                & (F.col("warc_record_length") > 0)
            ).alias("has_pointer"),
        )
        .orderBy("doc_id")
    )


def _stream_ccindex_build(s: SparkSession, d: str) -> DataFrame:
    """The index maintained INCREMENTALLY: a streaming WARC source
    (exactly-once per-file tracking) feeds ccindex_table into a
    hive-partitioned parquet sink via availableNow micro-batches --
    how the columnar index stays current as crawl segments land,
    without re-deriving rows for archives already indexed. Drained
    here in one availableNow pass over the shared WARC segment; the
    result must be row-identical to the batch build (same oracle)."""
    src = _wet_wat_source(s, d)
    out = _scratch("ccindex_stream", d, fresh=True)
    ck = _scratch("ccindex_stream_ck", d, fresh=True)
    idx = archive.ccindex_table(
        archive.read_warc_stream(s, src), crawl="CC-MAIN-2024-18"
    )
    q = (
        idx.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .partitionBy("crawl", "subset")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming_jobs._record_batch_plan("ccindex_stream", q)
    return _ccindex_project(archive.read_ccindex(s, out))


def _warc_revisit_gate(s: SparkSession, d: str) -> DataFrame:
    """Payload-digest dedup at archive grain (ISO 28500 `revisit`
    records): synthesize responses whose payload depends only on
    doc_id % 40 (so each payload recurs ~n/40 times) but whose HTTP
    HEADERS are unique per fetch (an X-Fetch: doc_id line -- how real
    re-fetches differ, in Date etc.), dedup, write the deduped
    archive, read it back, and verify per record: the deterministic
    first fetch per digest stays a full response, every later one is
    an empty-payload revisit pointing at it. The varying header line
    is what PROVES the digest covers the payload only (WARC
    payload-digest semantics); a whole-block digest would never
    fire here."""
    did = F.col("doc_id")
    docs = _t(s, d, "documents").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:rv-"), did.cast("string"), F.lit(">"))
        .alias("record_id"),
        F.concat(
            F.lit("http://m"), (did % 7).cast("string"),
            F.lit(".example.org/p/"), did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-05-%02dT%02d:%02d:00Z", did % 28 + 1, did % 24, did % 60
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.array(
            F.struct(F.lit("X-Seq").alias("key"),
                     did.cast("string").alias("value"))
        ).alias("headers"),
        F.encode(
            F.concat(
                F.lit("HTTP/1.1 200 OK\r\nX-Fetch: "),
                did.cast("string"),
                F.lit("\r\n\r\npayload-"),
                (did % 40).cast("string"),
            ),
            "UTF-8",
        ).alias("block"),
    )
    out = _scratch("revisit", d, fresh=True)
    archive.write_warc(
        archive.revisit_dedup(docs).repartition(8, "record_id"), out
    )
    rd = archive.read_warc(s, out)
    refers = F.try_element_at(
        F.filter(
            F.col("headers"), lambda h: h["key"] == "WARC-Refers-To"
        ),
        F.lit(1),
    )["value"]
    return rd.select(
        F.regexp_extract("record_id", "rv-(\\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        F.when(
            refers.isNotNull(),
            F.regexp_extract(refers, "rv-(\\d+)", 1).cast("long"),
        ).alias("refers_doc"),
        F.length("block").cast("long").alias("block_len"),
    ).transform(_share_sort).orderBy("doc_id")


def _pipeline_archive_linkgraph(s: SparkSession, d: str) -> DataFrame:
    """SURVEY.md section 3.3 lifecycle as ONE composed plan: archive
    bytes on disk -> HTTP body split -> HTML link extraction
    (Arrow-batched ParserMapper analog) -> host-level link graph
    (webgraph rollup, intra-host links dropped). The synthesized
    pages carry one self-link (must vanish) and one cross-host
    iframe per document, so the oracle recomputes the resulting
    edge list in closed form."""
    warc = archive.read_warc(s, _wet_wat_source(s, d))
    txt = F.decode(F.col("block"), "ISO-8859-1")
    pages = (
        warc.filter(F.col("warc_type") == "response")
        .withColumn("_txt", txt)
        .withColumn("_sep", F.instr(F.col("_txt"), "\r\n\r\n"))
        .filter(F.col("_sep") > 0)
        .withColumn("_body", F.expr("substring(_txt, _sep + 4)"))
    )
    host = F.regexp_extract(
        F.lower(F.col("target_uri")),
        r"^[a-z][a-z0-9+.-]*://([^/?#:]+)",
        1,
    )
    links = pages.select(
        host.alias("src_host"),
        F.explode(htmlfn.extract_links_tiered_udf(F.col("_body"))).alias("_l"),
    ).select(
        "src_host",
        F.regexp_extract(
            F.lower(F.col("_l")["url"]),
            r"^[a-z][a-z0-9+.-]*://([^/?#:]+)",
            1,
        ).alias("dst_host"),
    ).filter(F.col("dst_host") != "")
    return webgraph.host_graph(links).orderBy(
        "src_host_rev", "dst_host_rev"
    )


def _csv_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """documents -> tab-separated rank list -> schema'd csv read."""
    tmp = _scratch("csv", d)
    (
        _t(s, d, "documents")
        .select(F.col("doc_id").cast("int").alias("rank"), F.col("source"))
        .write.mode("overwrite")
        .csv(tmp, sep="\t")
    )
    return ingest.read_rank_list(s, tmp).orderBy("rank")


def _jsonl_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """events -> nested JSON-lines sidecar -> explicit-schema read.
    String-typed leaves so the double survives bit-faithfully; the
    cast back to double happens after the read, like a real ingest."""
    tmp = _scratch("jsonl", d)
    (
        _t(s, d, "events")
        .select(
            F.col("event_id").cast("string").alias("event_id"),
            F.struct(
                F.col("user_id").cast("string").alias("user"),
                F.col("event_type").alias("etype"),
            ).alias("meta"),
            # double -> shortest-repr string -> double is exact, so
            # the string leaf keeps the JSON roundtrip bit-faithful
            F.round(F.col("value"), 6).cast("string").alias("value"),
        )
        .write.mode("overwrite")
        .json(tmp)
    )
    raw = ingest.read_jsonl(s, tmp)
    return raw.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("meta.user").cast("bigint").alias("user_id"),
        F.col("meta.etype").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    ).orderBy("event_id")


def _timeseries_tail(s: SparkSession, d: str) -> DataFrame:
    """events -> day-partitioned parquet log -> pruned tail read."""
    tmp = _scratch("ts", d)
    ev = _t(s, d, "events").select("event_id", "user_id", "event_type", "value", "ts")
    sinks.write_timeseries(ev, tmp, mode="overwrite")
    return (
        sinks.read_timeseries_tail(s, tmp, days=1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
            "ts",
        )
        .orderBy("event_id")
    )


def _xml_roundtrip(s: SparkSession, d: str) -> DataFrame:
    """documents -> wiki-style XML chunks -> regex record parse."""
    tmp = _scratch("xml", d, fresh=True)
    docs = _t(s, d, "documents").select(
        F.col("doc_id").alias("page_id"),
        F.col("source").alias("title"),
        F.col("text"),
    )
    xmlsource.write_xml_pages(docs, tmp)
    return (
        xmlsource.read_xml_pages(s, tmp)
        .select("page_id", "title", "text")
        .orderBy("page_id")
    )


def _multi_sink_readback(s: SparkSession, d: str) -> DataFrame:
    """one cached documents scan -> three pruned sinks -> read one back."""
    tmp = _scratch("msink", d)
    docs = _t(s, d, "documents")
    sinks.write_multi_sink(
        docs,
        {
            "meta": (["doc_id", "lang", "source"], f"{tmp}/meta"),
            "text": (["doc_id", "text"], f"{tmp}/text"),
            "stats": (["doc_id", "n_chars"], f"{tmp}/stats"),
        },
    )
    return s.read.parquet(f"{tmp}/meta").orderBy("doc_id")


_STREAM_SINK_SEQ = [0]


def _stream_sink_name(tag: str) -> str:
    _STREAM_SINK_SEQ[0] += 1
    return f"ccspark_{tag}_{_STREAM_SINK_SEQ[0]}"


def _query_domain_list(s: SparkSession, d: str) -> DataFrame:
    server = query_api.QueryServer(s, _scratch("qcache_v1", d))
    return server.domain_list_query(
        query_api.domain_stats_from_documents(_t(s, d, "documents")),
        pattern="^src[0-9]$",
        info=query_api.ClientQueryInfo(
            sort_field="doc_count",
            ascending=False,
            offset=2,
            page_size=5,
            tiebreak="domain",
        ),
    )


def _query_domain_resort(s: SparkSession, d: str) -> DataFrame:
    """Re-sort by a different selected field (ClientQueryInfo.sortByMetric
    analog, queryserver.jr:50-62): same filter as query_domain_list but
    ordered by total_chars ascending -- a distinct canonical query id,
    so it materializes its own cached result rather than re-sorting the
    other gate's page."""
    server = query_api.QueryServer(s, _scratch("qcache_v1", d))
    return server.domain_list_query(
        query_api.domain_stats_from_documents(_t(s, d, "documents")),
        pattern="^src[0-9]$",
        info=query_api.ClientQueryInfo(
            sort_field="total_chars",
            ascending=True,
            offset=0,
            page_size=5,
            tiebreak="domain",
        ),
    )


def _stream_windowed_stats(s: SparkSession, d: str) -> DataFrame:
    out = streaming_jobs.run_available_now(
        streaming_jobs.windowed_event_stats(streaming_jobs.read_events_stream(s, d)),
        _stream_sink_name("winstats"),
    )
    return out.orderBy("day", "event_type")


def _stream_distinct_sketch(s: SparkSession, d: str) -> DataFrame:
    # drain the streaming register table (complete mode: <= 64 rows
    # per event type in the state store), then finish batch-side --
    # bit-identical to the batch sketch over the same rows
    regs = streaming_jobs.run_available_now(
        streaming_jobs.streaming_register_sketch(
            streaming_jobs.read_events_stream(s, d)
        ),
        _stream_sink_name("hllregs"),
    )
    from commoncrawl_crawler_spark.operators import aggregates

    return aggregates._sketch_finish(regs, 40).orderBy("grp")


def _stream_minhash_dedup(s: SparkSession, d: str) -> DataFrame:
    """The dedup sketch maintained INCREMENTALLY: documents stream in,
    per-doc minhash registers accumulate in a streaming aggregation
    (16 bigints of state per doc -- min is mergeable, so the result
    is bit-identical to the batch signature build regardless of
    micro-batch splits), then the banding + signature-agreement
    verify runs batch-side over the drained signature table.  Output
    == dedup_minhash_lsh row-for-row (same oracle)."""
    # fan the single-file source out before the shingle explode + md5
    # register math: the file stream arrives as ONE input partition,
    # so the heavy map-side signature compute ran on one core (the
    # batch _tp discipline applied to the stream; min registers are
    # merge-order-independent, results identical). A/B at sf0.1:
    # drain 1.40 -> 0.95 s median (r10-opt, guide 2.5)
    sig = streaming_jobs.run_available_now(
        dedup.streaming_minhash_signatures(
            streaming_jobs.read_documents_stream(s, d).repartition(
                s.sparkContext.defaultParallelism
            )
        ),
        _stream_sink_name("mhsigs"),
    )
    return dedup.md5_minhash_pairs(
        _t(s, d, "documents"), min_matching=13, sig=sig
    )


def _stream_countmin(s: SparkSession, d: str) -> DataFrame:
    """Streaming count-min heavy hitters: drain the bounded counter
    cells (complete mode, depth*width state rows), then probe the
    top-20 exact user keys batch-side -- estimates bit-identical to a
    batch sketch over the same rows (the mergeable-cells property)."""
    cells = streaming_jobs.run_available_now(
        streaming_jobs.streaming_countmin_cells(
            streaming_jobs.read_events_stream(s, d)
        ),
        _stream_sink_name("cmscells"),
    )
    top = (
        _t(s, d, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "key")
        .limit(20)
    )
    return aggregates.cms_probe(cells, top, "key").orderBy(
        F.desc("exact_cnt"), "key"
    )


def _stream_distinct_pairs(s: SparkSession, d: str) -> DataFrame:
    out = streaming_jobs.run_available_now(
        streaming_jobs.streaming_distinct_pairs(
            streaming_jobs.read_events_stream(s, d)
        ),
        _stream_sink_name("dedup"),
        output_mode="append",
    )
    return out.orderBy("user_id", "event_type")


def _stream_static_enrich(s: SparkSession, d: str) -> DataFrame:
    """Stream-static join: the events stream enriches against the
    customer dimension (user_id == c_custkey), then rolls up per
    market segment with the exact-decimal sum discipline."""
    dim = _t(s, d, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = streaming_jobs.stream_static_enrich(
        streaming_jobs.read_events_stream(s, d), dim, on="user_id"
    )
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("events"),
        numeric.dsum("value").alias("total_value"),
    )
    out = streaming_jobs.run_available_now(
        agg, _stream_sink_name("enrich"), output_mode="complete"
    )
    return out.orderBy("segment")


def _stream_stream_attribution(s: SparkSession, d: str) -> DataFrame:
    """Stream-stream inner join (state on both sides): every click
    attributed to same-user purchases within 12 hours."""
    # 4 state partitions, not the default 8: a stream-stream join
    # keeps FOUR state stores per partition and the per-micro-batch
    # store open/commit cost dominates at this bounded key volume
    # (interleaved A/B at sf0.1: drain med 5.6 -> 3.0 s; a production
    # firehose passes hundreds here, per run_available_now's contract)
    out = streaming_jobs.run_available_now(
        streaming_jobs.stream_stream_attribution(
            streaming_jobs.read_events_stream(s, d), window_minutes=720
        ),
        _stream_sink_name("ssattr"),
        output_mode="append",
        state_partitions=4,
    )
    return out.orderBy("click_id", "purchase_id")


def _stream_asof(s: SparkSession, d: str) -> DataFrame:
    """Stateful streaming as-of join (applyInPandasWithState), drained
    via availableNow. Each click row is emitted exactly once with the
    user's latest at-or-before signup; the oracle is the same DuckDB
    native ASOF JOIN SQL as the batch join_asof gate, restricted to
    the deterministic 1-in-3 user sample the stream processes."""
    out = streaming_jobs.run_available_now(
        streaming_jobs.streaming_asof_join(
            streaming_jobs.read_events_stream(s, d).filter(
                F.col("user_id") % 3 == 0
            )
        ),
        _stream_sink_name("asof"),
        output_mode="update",
    )
    return out.select(
        "event_id", "user_id", "ts", "asof_event_id", "asof_value"
    ).orderBy("event_id")


def _stream_sessionize(s: SparkSession, d: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState),
    drained via availableNow. Update-mode re-emits a (user, session)
    row per micro-batch as the session extends; the max() fold keeps
    the final state (sessions only grow). The oracle is the batch
    sessionize SQL minus the float stat -- boundaries, ids, and
    counts are exact, so the gate is deterministic. Gated on a
    deterministic 1-in-5 user sample: sessions are per-user
    independent, and the state-store cost is per-group Python
    overhead, so the sample verifies identical semantics at 20% of
    the wall time."""
    out = streaming_jobs.run_available_now(
        sessions.sessionize_stateful(
            streaming_jobs.read_events_stream(s, d).filter(
                F.col("user_id") % 5 == 0
            ),
            gap_minutes=60,
        ),
        _stream_sink_name("sess"),
        output_mode="update",
    )
    return (
        out.groupBy("user_id", "session_id")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.max("n_events").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def _fn_parse_headers(s: SparkSession, d: str) -> DataFrame:
    """Synthesize header blobs from order columns, parse them back
    with the JVM-side header expressions (roundtrip identity)."""
    blob = F.concat(
        F.lit("Content-Type: text/html; charset=utf-8\r\n"),
        F.lit("Content-Length: "),
        F.col("o_orderkey").cast("string"),
        F.lit("\r\nCache-Control: public, max-age="),
        F.col("o_custkey").cast("string"),
        F.lit("\r\nX-Priority: "),
        F.col("o_orderpriority"),
    )
    # single-file scan = ONE partition (one parquet row group), which
    # would run the 4-regex parse single-threaded; shuffle the three
    # narrow key columns first so the parse fans out (the same
    # discipline as _fn_parse_cookies; r9-opt: ~2.5s -> ~0.6s noop at
    # sf0.1 local[32])
    return (
        _t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .repartition(s.sparkContext.defaultParallelism)
        .select("o_orderkey", blob.alias("blob"))
        .select(
            "o_orderkey",
            hdr.content_type_expr(F.col("blob")).alias("content_type"),
            hdr.content_length_expr(F.col("blob")).alias("content_length"),
            hdr.max_age_expr(F.col("blob")).alias("max_age"),
            hdr.header_expr(F.col("blob"), "x-priority").alias("x_priority"),
        )
        .orderBy("o_orderkey")
    )


def _fn_parse_cookies(s: SparkSession, d: str) -> DataFrame:
    """Synthesize Set-Cookie lines across the parser's behavior
    classes (named, nameless+secure, multi-equals, quoted-with-
    semicolon + domain/max-age, invalid whitespace), parse with the
    Chromium-lineage expression, flatten to scalar columns."""
    o = F.col("o_orderkey")
    line = (
        F.when(
            o % 5 == 0,
            F.concat(
                F.lit("sid="), o.cast("string"),
                F.lit("; Path=/a; Secure; HttpOnly"),
            ),
        )
        .when(o % 5 == 1, F.lit("BLAHHH; path=/; secure;"))
        .when(o % 5 == 2, F.lit("  A=== BC  ;;;   httponly"))
        .when(
            o % 5 == 3,
            F.concat(
                F.lit('token="zz;pp" ; domain=.d'),
                (o % 20).cast("string"),
                F.lit(".com; max-age="),
                (o % 999).cast("string"),
            ),
        )
        .otherwise(F.lit("   "))
    )
    # Two plan disciplines, both measured on 150k rows: (1) the
    # single-file parquet scan is one partition, so the 14-regex parse
    # would run single-threaded -- repartition the narrow key column
    # first (a trivial shuffle of one bigint) so the parse fans out
    # across the cluster; (2) inline(array(p)) is a generator barrier
    # so the parse struct is evaluated ONCE per row and the 8-field
    # projection prunes generator OUTPUT columns instead of
    # re-evaluating the expression tree per field. Together 9.3s ->
    # ~1s at sf0.1 local[32].
    parsed = (
        _t(s, d, "orders")
        .select("o_orderkey")
        .repartition(s.sparkContext.defaultParallelism)
        .select(o.alias("key"), line.alias("line"))
        .select(
            "key",
            F.inline(F.array(hdr.parse_set_cookie_expr(F.col("line")))),
        )
    )
    return parsed.select(
        "key",
        "valid",
        "name",
        "value",
        "path",
        "domain",
        "max_age",
        "secure",
        "httponly",
    ).transform(_share_sort).orderBy("key")


def _fn_extract_links(s: SparkSession, d: str) -> DataFrame:
    """Synthesize HTML per document, run the link/title extractor,
    explode the typed link array (ParserMapper bundle shape)."""
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><a href="http://'),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("doc_id").cast("string"),
        F.lit('">anchor '),
        F.col("lang"),
        F.lit('</a><iframe src="http://frame.'),
        F.col("source"),
        F.lit('.net"></iframe></body></html>'),
    )
    parsed = (
        _t(s, d, "documents")
        .select("doc_id", html.alias("html"))
        .select(
            "doc_id",
            htmlfn.extract_title_udf(F.col("html")).alias("title"),
            F.explode(htmlfn.extract_links_tiered_udf(F.col("html"))).alias("link"),
        )
    )
    return parsed.select(
        "doc_id",
        "title",
        F.col("link.url").alias("url"),
        F.col("link.link_type").alias("link_type"),
        F.col("link.anchor").alias("anchor"),
    ).orderBy("doc_id", "link_type", "url")


def _fn_extract_feeds(s: SparkSession, d: str) -> DataFrame:
    """Synthesize an RSS feed (even doc_ids) or ATOM feed (odd) per
    document, parse into typed items (ParserMapper.java:685
    parseFeedDocument shape), explode."""
    did = F.col("doc_id").cast("string")
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>Feed '),
        F.col("source"),
        F.lit("</title><item><title>Post "),
        did,
        F.lit("</title><link>http://"),
        F.col("source"),
        F.lit(".example.com/p/"),
        did,
        F.lit("</link><guid>g"),
        did,
        F.lit("</guid><pubDate>Mon, 01 Jan 2024</pubDate><description>d "),
        F.col("lang"),
        F.lit("</description></item><item><title>Extra "),
        did,
        F.lit("</title><link>http://"),
        F.col("source"),
        F.lit(".example.com/x/"),
        did,
        F.lit("</link></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>AF</title>'),
        F.lit("<entry><title>Entry "),
        did,
        F.lit('</title><link rel="alternate" href="http://'),
        F.col("source"),
        F.lit(".example.net/e/"),
        did,
        F.lit('"/><id>a'),
        did,
        F.lit("</id><updated>2024-01-02T00:00:00Z</updated>"),
        F.lit("<author><name>au "),
        F.col("lang"),
        F.lit("</name></author><summary>s "),
        F.col("lang"),
        F.lit("</summary></entry></feed>"),
    )
    content = F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom)
    parsed = (
        _t(s, d, "documents")
        .select("doc_id", content.alias("content"))
        .select(
            "doc_id",
            F.explode(htmlfn.extract_feed_items_udf(F.col("content"))).alias(
                "item"
            ),
        )
    )
    return parsed.select(
        "doc_id",
        F.col("item.title").alias("title"),
        F.col("item.url").alias("url"),
        F.col("item.item_id").alias("item_id"),
        F.col("item.published").alias("published"),
        F.col("item.author").alias("author"),
        F.col("item.summary").alias("summary"),
    ).orderBy("doc_id", "url")


def _crawldb_blekko_merge(s: SparkSession, d: str) -> DataFrame:
    """External-metadata merge (CrawlDBBlekkoMerge): synthesize
    'rank=R rank10=R10 status' lines (some malformed, some absent)
    and merge them into a URL-keyed db projection."""
    did = F.col("doc_id").cast("string")
    db = _t(s, d, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/p/"), did
        ).alias("url"),
    )
    lines = (
        db.filter(F.col("doc_id") % 4 != 0)
        .select(
            "url",
            F.when(F.col("doc_id") % 7 == 0, F.lit("malformed junk"))
            .otherwise(
                F.concat(
                    F.lit("rank="),
                    (F.col("doc_id") % 50).cast("string"),
                    F.lit(".5 rank10="),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit(" "),
                    F.when(
                        F.col("doc_id") % 3 == 0, F.lit("crawled")
                    ).otherwise(F.lit("redir")),
                )
            )
            .alias("metadata"),
        )
    )
    return crawldb.blekko_merge(db, lines).orderBy("doc_id")


def _crawllist_wikipedia_partition(s: SparkSession, d: str) -> DataFrame:
    """Wikipedia URL set -> md5-sharded, rank-joined crawl input
    (PartitionWikipediaUrlsStep shape)."""
    did = F.col("doc_id").cast("string")
    docs = _t(s, d, "documents")
    pages = docs.select(
        F.concat(
            F.lit("http://en.wikipedia.org/wiki/"),
            F.col("source"),
            F.lit("_"),
            did,
        ).alias("url")
    )
    ranks = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.concat(
            F.lit("http://en.wikipedia.org/wiki/"),
            F.col("source"),
            F.lit("_"),
            did,
        ).alias("url"),
        ((F.col("doc_id") % 100) / F.lit(10.0)).alias("rank"),
    )
    return crawllist.partition_wikipedia_urls(pages, ranks, n_partitions=8)


def _robots_sitemap_blobs(s: SparkSession, d: str) -> DataFrame:
    """Robots blobs with per-host sitemap advertisements: i%3==0 two
    directives (one mid-stanza, one oddly-cased with a trailing
    comment), i%3==1 one directive BEFORE any stanza (the directive
    is stanza-independent), i%3==2 none."""
    i = F.col("_i")
    istr = i.cast("string")
    blob = (
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit("User-agent: *\nSitemap: https://d"),
                istr,
                F.lit(".com/sitemap.xml\nDisallow: /x\n"),
                F.lit("SiTeMaP:   https://cdn.d"),
                istr,
                F.lit(".com/s2.xml   # mirror\n"),
            ),
        )
        .when(
            i % 3 == 1,
            F.concat(
                F.lit("Sitemap: https://d"),
                istr,
                F.lit(".com/only.xml\nUser-agent: *\nDisallow: /\n"),
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow: /private/\n"))
    )
    return (
        _t(s, d, "orders")
        .select((F.col("o_orderkey") % 20).cast("int").alias("_i"))
        .distinct()
        .select(
            F.concat(F.lit("d"), istr, F.lit(".com")).alias("host"),
            blob.alias("content"),
        )
    )


def _robots_verdicts(s: SparkSession, d: str) -> DataFrame:
    """Unsorted robots verdict set: synthesize per-host robots.txt
    blobs (three stanza shapes: agent-specific with clear +
    allow-before-disallow ordering, consecutive-UA wildcard, and
    no-matching-stanza), parse with the distributed RobotRulesParser,
    and evaluate URL verdicts. No ORDER BY here -- the composed
    fetch-plan gate repartitions on host immediately, and an inner
    global sort would be a wasted full shuffle+sort of every verdict
    row at scale.

    Materialized once per (session, sf) via _cached: the verdict
    table feeds BOTH robots_evaluate and the politeness fetch plan,
    and the reference holds exactly this artifact in its per-host
    robots cache (CrawlerServer's RobotRulesParser results are parsed
    once per host and consulted per URL, never re-parsed per job)."""
    return _cached(s, "robots_verdicts", d, lambda: _robots_verdicts_build(s, d))


def _robots_verdicts_build(s: SparkSession, d: str) -> DataFrame:
    o = F.col("o_orderkey")
    i = (o % 20).cast("int")
    host = F.concat(F.lit("d"), i.cast("string"), F.lit(".com"))
    path = (
        F.when(o % 10 == 0, F.lit("/"))
        .when(o % 10 == 1, F.lit("/p/1"))
        .when(o % 10 == 2, F.lit("/p/15"))
        .when(o % 10 == 3, F.lit("/p/7"))
        .when(o % 10 == 4, F.lit("/private/a"))
        .when(o % 10 == 5, F.lit("/private/"))
        .otherwise(F.concat(F.lit("/page/"), (o % 50).cast("string")))
    )
    urls = _t(s, d, "orders").select(
        o.alias("key"), host.alias("host"), path.alias("path")
    )
    hi = F.col("_i")
    blob = (
        F.when(
            hi % 3 == 0,
            F.concat(
                F.lit(
                    "# generated\nUser-agent: crawlerbot\n"
                    "Disallow: /never/\nDisallow:\n"
                    "Allow: /p/1\nDisallow: /p/\n"
                    "Crawl-Delay: 7\nCrawl-Delay: "
                ),
                hi.cast("string"),
                F.lit("\nUser-agent: *\nDisallow: /\n"),
            ),
        )
        .when(
            hi % 3 == 1,
            F.lit(
                "User-agent: otherbot\nUser-agent: *\n"
                "Disallow: /private/\n"
            ),
        )
        .otherwise(F.lit("User-agent: nobodyelse\nDisallow: /\n"))
    )
    blobs = (
        urls.select(F.col("host"), F.expr("CAST(substring(host, 2, length(host) - 5) AS INT)").alias("_i"))
        .distinct()
        .select("host", blob.alias("content"))
    )
    # the parsed rule table is consumed three times inside
    # robots_allowed (rule rows, host meta, verdict join) and is tiny
    # (rules-per-host is robots-file-size bounded): materialize once
    # so the parse windows run once and AQE can broadcast the joins
    rules = robots.parse_robot_rules(blobs, ["crawlerbot"]).localCheckpoint(
        eager=False
    )
    return robots.robots_allowed(urls, rules)


def _robots_evaluate(s: SparkSession, d: str) -> DataFrame:
    return _robots_verdicts(s, d).orderBy("key")


def _crawllist_filtered_generate(s: SparkSession, d: str) -> DataFrame:
    """Crawl-list URLs annotated by the named filter chain
    (PageRankBoost + CrawlRateOverride + ReCrawlTimeModifier)."""
    from commoncrawl_crawler_spark.operators import crawlfilters

    o = F.col("o_orderkey")
    urls = _t(s, d, "orders").select(
        o.alias("key"),
        F.concat(F.lit("d"), (o % 20).cast("string"), F.lit(".com")).alias(
            "root_domain"
        ),
        F.concat(
            F.when(o % 3 == 0, F.lit("shop.")).otherwise(F.lit("www.")),
            F.lit("d"),
            (o % 20).cast("string"),
            F.lit(".com"),
        ).alias("domain"),
        F.when(o % 10 == 0, F.lit("/"))
        .when(o % 10 == 1, F.lit("/index.html"))
        .otherwise(F.concat(F.lit("/p/"), (o % 100).cast("string")))
        .alias("path"),
    )
    boost = crawlfilters.rules_df(
        s,
        [
            ("*", "", "/p/[0-9]+", 2.0),
            ("d3.com", "", ".*", 1.5),
            ("d15.com", "www\\..*", "/p/1[0-9]", 1.0),
        ],
    )
    rate = crawlfilters.rules_df(
        s,
        [
            ("d3.com", "*", "*", 50.0),
            ("d7.com", "shop\\..*", "*", 1000.0),
            ("d3.com", "*", "/p/.*", 25.0),
        ],
    )
    recrawl = crawlfilters.rules_df(
        s,
        [
            ("*", "", "(^/$)|(^/index\\.[^/]*$)", 86400.0),
            ("d9.com", "", ".*", 3600.0),
        ],
    )
    return crawlfilters.apply_crawl_filters(urls, boost, rate, recrawl).orderBy(
        "key"
    )


def _crawllist_filtered(s: SparkSession, d: str) -> DataFrame:
    """The filtered crawl list feeds THREE gates (the list itself,
    the politeness schedule, the fetch-window budget) -- materialize
    the filter-chain result once per (session, sf) like the edge and
    shingle tables, so the rule evaluation runs once instead of
    three times."""
    return _cached(
        s,
        "crawllist_filtered",
        d,
        lambda: _crawllist_filtered_generate(s, d),
    )


def _blog_platform_gate(s: SparkSession, d: str) -> DataFrame:
    """Post-frequency records synthesized across the five platform
    classes of GenBlogPlatformUrlsStep (wordpress/blogger/typepad/
    tumblr via ROOT-DOMAIN detection -- no explicit flags, so the
    fallback path is what's under test -- plus 'other'), run through
    the named probe-URL rules with a fixed (2012, 6) probe calendar.
    last_year_with_posts spans 2009-2012 so both the active (>=2011)
    and dormant arms execute; avg_posts_per_month spans 0.5-39.5
    (half-integers: exact in BOTH binary doubles and DuckDB decimals,
    so ceil() can never straddle a representation boundary) and
    wordpress paginations hits 1 (no month probes at all -- the
    reference's page<paginations loop) through 4."""
    did = F.col("doc_id")
    plat = (did % 5).cast("int")
    suffix = (
        F.when(plat == 0, F.lit(".wordpress.com/"))
        .when(plat == 1, F.lit(".blogspot.com/"))
        .when(plat == 2, F.lit(".typepad.com/weblog"))
        .when(plat == 3, F.lit(".tumblr.com/"))
        .otherwise(F.lit(".example.org/"))
    )
    pf = _t(s, d, "documents").select(
        F.concat(F.lit("http://blog"), did.cast("string"), suffix).alias(
            "url"
        ),
        (F.lit(2009) + (did % 4)).cast("int").alias(
            "last_year_with_posts"
        ),
        ((did % 40) + F.lit(0.5)).alias("avg_posts_per_month"),
    )
    return crawllist.blog_platform_urls(pf, 2012, 6).orderBy(
        "url", "probe_url", "skip_if_dupe"
    )


def _fetch_plan_gate(s: SparkSession, d: str) -> DataFrame:
    """Closed-form pointer table (7 archive files, ~1000-byte member
    stride with jittered offsets and variable lengths) -> fetch_plan
    with merge_gap=700, so adjacent members merge exactly when their
    jittered gap is <= 700 -- both the merge and split branches fire
    throughout. The real-archive path (cdx pointers -> merged ranges
    -> range-read each run back and count members) is the pytest."""
    from pyspark.sql import Window

    did = F.col("doc_id")
    base = _t(s, d, "documents").select(
        "doc_id",
        F.concat(F.lit("seg-"), (did % 7).cast("string")).alias(
            "filename"
        ),
    )
    w = Window.partitionBy("filename").orderBy("doc_id")
    ptrs = base.select(
        "filename",
        (
            (F.row_number().over(w) - 1).cast("long") * 1000
            + F.col("doc_id") % 300
        ).alias("offset"),
        (F.lit(100) + F.col("doc_id") % 50).cast("long").alias("length"),
    )
    return archive.fetch_plan(ptrs, merge_gap=700).orderBy(
        "filename", "range_start"
    )


def _selective_extract_gate(s: SparkSession, d: str) -> DataFrame:
    """The reference's query-serving flow at batch scale, composed
    end to end: WARC segment on disk -> columnar index -> index-side
    SELECTION (status 200, doc_id % 3 == 0) -> fetch_plan range
    coalescing -> read_warc_ranges bounded extraction -> payload
    parse. Only the selected records' bytes are read back; the
    oracle recomputes the selected rows (URI, date, status, body
    text) straight from the documents generator, so a wrong offset,
    a trimmed range, or a mis-merged run all hash-mismatch."""
    src = _wet_wat_source(s, d)
    idx = archive.ccindex_table(
        archive.read_warc(s, src), crawl="CC-MAIN-2024-18"
    )
    sel = (
        idx.filter(
            (F.col("fetch_status") == 200)
            & (
                F.regexp_extract("url", "/w/(\\d+)$", 1).cast("long") % 3
                == 0
            )
        )
        .select(
            F.col("warc_filename").alias("filename"),
            F.col("warc_record_offset").alias("offset"),
            F.col("warc_record_length").alias("length"),
        )
    )
    recs = archive.read_warc_ranges(
        s, archive.fetch_plan(sel, merge_gap=0), src
    )
    txt = F.decode(F.col("block"), "UTF-8")
    return (
        recs.select(
            F.regexp_extract("target_uri", "/w/(\\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "target_uri",
            "warc_date",
            F.regexp_extract(txt, "^HTTP/[0-9.]+ ([0-9]{3})", 1)
            .cast("int")
            .alias("status"),
            F.regexp_extract(txt, "<p>(.*?)</p>", 1).alias("body_text"),
        )
        .transform(_share_sort).orderBy("doc_id")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return aggregates.pricing_summary(_t(spark, "/root/testdata/sf0.001", "lineitem"))


_CHANGEFREQS = (
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never"
)


def _sitemap_blobs(s, d):
    """Synthesize one deterministic sitemap.xml blob per host from the
    orders table (urlset entries with escaped query strings, W3C
    lastmod dates, cycling changefreq, one-decimal priority). The
    parse gate must invert this synthesis exactly, so the oracle can
    recompute the generator formula instead of re-parsing XML."""
    o = _t(s, d, "orders")
    host = F.concat(
        F.lit("d"), (F.col("o_orderkey") % 20).cast("string"), F.lit(".com")
    )
    block = F.concat(
        F.lit("<url><loc>https://"),
        host,
        F.lit("/o/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?a=1&amp;b=2</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</lastmod><changefreq>"),
        F.get(
            F.array(*[F.lit(c) for c in _CHANGEFREQS]),
            (F.col("o_orderkey") % 7).cast("int"),
        ),
        F.lit("</changefreq><priority>0."),
        (F.col("o_orderkey") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    return (
        # fan the block synthesis out of the single-partition scan
        # (two narrow columns shuffle; the concat-heavy block build
        # and the partial collect_list then run on every core)
        o.select("o_orderkey", "o_orderdate")
        .repartition(s.sparkContext.defaultParallelism)
        .select(host.alias("host"), F.col("o_orderkey").alias("k"), block.alias("blk"))
        .groupBy("host")
        .agg(F.collect_list(F.struct("k", "blk")).alias("bs"))
        .select(
            "host",
            F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
                F.expr("concat_ws('', transform(sort_array(bs), x -> x.blk))"),
                F.lit("</urlset>"),
            ).alias("content"),
        )
    )


def _editdist_hosts(s, d):
    """Deterministic fuzzy-host corpus for the PassJoin gate: each
    part-derived hostname plus a drop-first-char and a
    substitute-first-char variant (every base has two distance-1
    twins; genuinely-similar part names contribute organic pairs)."""
    b = (
        _t(s, d, "part")
        .select(
            F.concat(
                F.regexp_replace("p_name", " ", "-"), F.lit(".com")
            ).alias("base")
        )
        .distinct()
    )
    return (
        b.select(F.col("base").alias("name"))
        .union(b.select(F.expr("substring(base, 2)")))
        .union(b.select(F.concat(F.lit("x"), F.expr("substring(base, 2)"))))
    )


def _stream_tar_manifest(s: SparkSession, d: str) -> DataFrame:
    """WebDataset ingest end to end: write tar shards (attempt-atomic
    partition writers), tail them with a binaryFile readStream, walk
    members in the shared kernel, drain availableNow into a parquet
    sink, read back. Row-identical to the batch member walk, so the
    batch oracle gates the streaming path."""
    src = _scratch("tarshards", d, fresh=True)
    out = _scratch("tarmanifest", d, fresh=True)
    ck = _scratch("tarmanifest_ck", d, fresh=True)
    packfiles.write_tar_shards(
        _t(s, d, "documents").repartition(8, "doc_id"), src
    )
    manifest = packfiles.tar_member_manifest(
        packfiles.read_tar_stream(s, src)
    )
    q = (
        manifest.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming_jobs._record_batch_plan("tar_manifest_stream", q)
    return s.read.parquet(out).orderBy("media_id", "name")


def _warc_dechunk_gate(s: SparkSession, d: str) -> DataFrame:
    """documents -> WARC responses where EVEN docs carry RFC 9112
    chunked bodies (hex size lines with a chunk extension, split at
    deterministic character offsets, trailer section after the 0
    chunk) and odd docs identity bodies -> http extract -> dechunk.
    The decoded body must be the exact UTF-8 bytes of the text either
    way; the oracle recomputes byte length + md5 from the table."""
    tmp = _scratch("warcchunk", d, fresh=True)
    did = F.col("doc_id")

    def _part_chunk(part, ext):
        blen = F.length(F.encode(part, "UTF-8"))
        return F.when(
            blen > 0,
            F.concat(
                F.lower(F.hex(blen)),
                F.lit(ext),
                F.lit("\r\n"),
                part,
                F.lit("\r\n"),
            ),
        ).otherwise(F.lit(""))

    docs0 = (
        _t(s, d, "documents")
        .withColumn("_n1", (F.lit(5) + F.pmod(did, F.lit(7))).cast("int"))
        .withColumn("_n2", (F.lit(9) + F.pmod(did, F.lit(5))).cast("int"))
        .withColumn("_p1", F.expr("substring(text, 1, _n1)"))
        .withColumn("_p2", F.expr("substring(text, _n1 + 1, _n2)"))
        .withColumn("_p3", F.expr("substring(text, _n1 + _n2 + 1)"))
    )
    chunked_body = F.concat(
        _part_chunk(F.col("_p1"), ";x=1"),
        _part_chunk(F.col("_p2"), ""),
        _part_chunk(F.col("_p3"), ""),
        F.lit("0\r\nX-Trail: done\r\n\r\n"),
    )
    is_even = did % 2 == 0
    http_block = F.encode(
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"),
            F.when(
                is_even, F.lit("Transfer-Encoding: chunked\r\n")
            ).otherwise(F.lit("")),
            F.lit("X-Doc: "),
            did.cast("string"),
            F.lit("\r\n\r\n"),
            F.when(is_even, chunked_body).otherwise(F.col("text")),
        ),
        "UTF-8",
    )
    docs = docs0.select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:c"), did.cast("string"), F.lit(">")).alias(
            "record_id"
        ),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/c/"),
            did.cast("string"),
        ).alias("target_uri"),
        F.format_string(
            "2024-05-%02dT%02d:%02d:00Z", did % 28 + 1, did % 24, did % 60
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        http_block.alias("block"),
    )
    archive.write_warc(docs.repartition(8, "record_id"), tmp)
    out = archive.dechunk_http_bodies(
        archive.warc_http_responses(archive.read_warc(s, tmp))
    )
    return out.select(
        F.regexp_extract("target_uri", "/c/(\\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "was_chunked",
        F.length("body").cast("long").alias("body_bytes"),
        F.md5("body").alias("body_md5"),
    ).transform(_share_sort).orderBy("doc_id")


# tokenizer-gate fixture: 12 words chosen per doc_id, a WordPiece
# vocab and a Unigram score table small enough that the oracle is a
# literal golden table (derived by exhaustive enumeration in
# tests/test_tokenizers.py -- the same golden-table discipline as the
# URL-canonicalization fixture)
_TOK_WORDS = [
    "the", "thing", "running", "under", "tested", "stable",
    "thunder", "ingest", "hello", "big", "dog", "xyz",
]
_WP_VOCAB = (
    list("abdeghilnorstu")
    + ["##" + c for c in "abdeghilnorstu"]
    + ["th", "the", "un", "##ing", "##er", "##ed", "##le", "##st"]
)
_UNI_SCORES = {
    **{c: -5_000_000 for c in "abdeghilnorstu"},
    "th": -6_000_000, "the": -7_000_000, "ing": -6_500_000,
    "un": -6_200_000, "er": -6_000_000, "ed": -6_100_000,
    "st": -6_300_000, "run": -8_000_000, "ning": -9_000_000,
    "der": -8_500_000, "hello": -12_000_000, "ll": -7_000_000,
}


def _tok_words(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id")
    w = F.element_at(
        F.array(*[F.lit(x) for x in _TOK_WORDS]),
        (F.pmod(F.col("doc_id"), F.lit(12)) + 1).cast("int"),
    )
    return docs.select("doc_id", w.alias("word"))


def _tokenize_corpus_gate(s: SparkSession, d: str) -> DataFrame:
    """Corpus-side path end to end: two fixture words per doc, the
    distinct-word WordPiece table joined back broadcast-side, per-doc
    token totals. Oracle sums the golden per-word piece counts."""
    docs = _t(s, d, "documents").select("doc_id")
    arr = F.array(*[F.lit(x) for x in _TOK_WORDS])
    text = F.concat(
        F.element_at(arr, (F.pmod(F.col("doc_id"), F.lit(12)) + 1).cast("int")),
        F.lit(" "),
        F.element_at(
            arr, (F.pmod(F.col("doc_id") + 5, F.lit(12)) + 1).cast("int")
        ),
    )
    corpus = docs.select("doc_id", text.alias("text"))
    pieces = tokenizers.wordpiece_encode(
        corpus.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("word")
        ).distinct(),
        _WP_VOCAB,
    )
    return tokenizers.tokenize_corpus(corpus, pieces)


_UNI_SEED = list("abdeghilnorstu") + [
    "th", "the", "ing", "un", "er", "ed", "st", "run", "ning", "der",
    "hello", "ll",
]


def _unigram_train_gate(s: SparkSession, d: str) -> DataFrame:
    """Hard-EM unigram training over the fixture word-frequency table
    (2 rounds, uniform seed). The oracle is a golden coefficient
    table (piece-per-word usage in the CONVERGED segmentation,
    derived offline and N-stability-checked) times the per-residue
    document counts -- so the data-dependent frequencies stay live
    while the segmentation structure is pinned."""
    words = _tok_words(s, d)
    freqs = words.groupBy("word").agg(
        F.count("*").cast("long").alias("freq")
    )
    return tokenizers.unigram_train_hard_em(freqs, _UNI_SEED, rounds=2)


def _wordpiece_gate(s: SparkSession, d: str) -> DataFrame:
    words = _tok_words(s, d)
    pieces = tokenizers.wordpiece_encode(
        words.select("word").distinct(), _WP_VOCAB
    )
    return (
        words.join(F.broadcast(pieces), "word")
        .select("doc_id", "word", "pieces", "n_pieces", "is_unk")
        .orderBy("doc_id")
    )


def _unigram_gate(s: SparkSession, d: str) -> DataFrame:
    words = _tok_words(s, d)
    pieces = tokenizers.unigram_encode(
        words.select("word").distinct(), _UNI_SCORES
    )
    return (
        words.join(F.broadcast(pieces), "word")
        .select("doc_id", "word", "pieces", "n_pieces", "score_micro")
        .orderBy("doc_id")
    )


def _robots_rfc9309_gate(s: SparkSession, d: str) -> DataFrame:
    """Wildcard/anchor robots verdicts end-to-end: synthesize
    robots.txt per host (odd hosts add a tying Allow and a /files*
    Disallow), parse with parse_robot_rules, evaluate with RFC 9309
    most-specific-match semantics. The oracle states the closed-form
    verdict table."""
    docs = _t(s, d, "documents").select("doc_id")
    host = F.concat(
        F.lit("h"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
    )
    pm5 = F.pmod(F.col("doc_id"), F.lit(5))
    path = (
        F.when(pm5 == 0, "/index.html")
        .when(pm5 == 1, "/private/data")
        .when(pm5 == 2, "/private/pub")
        .when(pm5 == 3, "/files/a.zip")
        .otherwise("/files/a.zip.txt")
    )
    urls = docs.select("doc_id", host.alias("host"), path.alias("path"))
    base = (
        "User-agent: *\nDisallow: /private*\nAllow: /private/pub$\n"
        "Disallow: /*.zip$\nAllow: /\n"
    )
    extra = "Allow: /private*\nDisallow: /files*\n"
    host_num = F.regexp_extract("host", r"h(\d+)", 1).cast("int")
    robots_txt = urls.select("host").distinct().select(
        "host",
        F.when(F.pmod(host_num, F.lit(2)) == 1, base + extra)
        .otherwise(base)
        .alias("content"),
    )
    rules = robots.parse_robot_rules(robots_txt, ["testbot"])
    return (
        robots.robots_allowed_rfc9309(urls, rules)
        .select("doc_id", "host", "path", "allowed")
        # pre-sort boundary: the range partitioner's sampling job was
        # re-running the verdict join chain (r9-opt wave 7, the wave-2
        # _share_sort discipline)
        .transform(_share_sort)
        .orderBy("doc_id")
    )


def _cidr_blocklist(s: SparkSession, d: str) -> DataFrame:
    """Region-derived CIDR blocks (/18 and /19, 32768-aligned) plus
    one overlapping /16 so the longest-prefix tie-break is exercised."""
    reg = _t(s, d, "region").select(
        (F.lit(167772160) + F.col("r_regionkey") * 32768)
        .cast("long")
        .alias("cidr_base"),
        (F.lit(18) + F.pmod(F.col("r_regionkey"), F.lit(2)))
        .cast("int")
        .alias("prefix_len"),
    )
    extra = s.createDataFrame(
        [(167772160, 16)], "cidr_base long, prefix_len int"
    )
    return reg.unionByName(extra)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    base = {
        "agg_pricing_summary": lambda s, d: aggregates.pricing_summary(
            _t(s, d, "lineitem")
        ),
        "agg_stats_aggregation": lambda s, d: aggregates.stats_aggregation(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "agg_group_count": lambda s, d: aggregates.group_count(
            _t(s, d, "orders"), "o_orderpriority"
        ),
        "agg_count_having": lambda s, d: aggregates.count_having(_t(s, d, "events")),
        "agg_two_level": lambda s, d: aggregates.two_level_aggregation(
            _t(s, d, "events")
        ),
        "agg_latest_per_key": lambda s, d: aggregates.latest_record_per_key(
            _t(s, d, "events")
        ),
        "agg_time_window_rollup": lambda s, d: aggregates.time_window_rollup(
            _t(s, d, "events")
        ),
        "agg_value_percentiles": lambda s, d: aggregates.value_percentiles(
            _t(s, d, "events")
        ),
        # mergeable histogram quantile sketch -- the bounded-error
        # scale path next to the exact-sort percentile gate
        "agg_quantile_sketch": lambda s, d: aggregates.quantile_histogram(
            _t(s, d, "events")
        ),
        # temperature-flattened language mixture (p proportional to
        # n^0.5 -- sqrt is the one IEEE-exact power, so the plan is
        # engine-identical); the multilingual sampling standard
        "text_temperature_mixture": lambda s, d: sampling.temperature_mixture(
            _t(s, d, "documents"), budget_docs=10000
        ),
        # KMV distinct sketches with SET-OPERATION support: the
        # cross-source Jaccard estimate HLL cannot produce, next to
        # the exact overlap for the quality-report flavor
        "agg_kmv_overlap": lambda s, d: aggregates.kmv_source_overlap(
            _t(s, d, "documents"), k=128
        ),
        # Deequ-style data quality: one-pass per-column profile and a
        # declarative constraint suite (unique/complete/ref-int/range)
        # project to the five profiled columns, then fan out of the
        # single-partition scan so the x6 Expand (5 countDistincts)
        # and its sort-aggregate run on every core, not one
        "dq_profile_orders": lambda s, d: dataquality.profile_table(
            _t(s, d, "orders")
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "o_orderstatus",
                "o_orderpriority",
            )
            .repartition(s.sparkContext.defaultParallelism),
            num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
            str_cols=["o_orderstatus", "o_orderpriority"],
        ),
        "dq_constraints": lambda s, d: dataquality.check_constraints(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        # product-analytics tier over the events log: ordered funnel,
        # weekly cohort retention, Markov transition matrix
        "evt_funnel": lambda s, d: analytics.funnel_counts(
            _t(s, d, "events")
        ),
        "evt_cohort_retention": lambda s, d: analytics.cohort_retention(
            _t(s, d, "events")
        ),
        "evt_transitions": lambda s, d: analytics.transition_matrix(
            _t(s, d, "events")
        ),
        "agg_moving_daily_avg": lambda s, d: aggregates.moving_daily_average(
            _t(s, d, "events")
        ),
        "agg_status_rollup": lambda s, d: aggregates.status_rollup(
            _t(s, d, "orders")
        ),
        # deterministic md5-based HLL (m=64): engine-exact approximate
        # distinct users per event type, with the exact column as the
        # error report
        "agg_distinct_sketch": lambda s, d: aggregates.distinct_sketch(
            _t(s, d, "events"), "event_type", "user_id"
        ),
        # CUBE: detail + both margins + grand total in ONE Expand pass
        "agg_cube_rollup": lambda s, d: aggregates.cube_rollup(
            _t(s, d, "orders")
        ),
        # count-min sketch heavy hitters: fixed-size mergeable counter
        # table, md5-salted rows, estimate >= exact by construction
        "agg_count_min": lambda s, d: aggregates.count_min_tokens(
            _t(s, d, "documents")
        ),
        # mergeable-sketch union: per-source register tables combine
        # by bucket-wise max into the corpus-wide '__all__' row
        "agg_sketch_union": lambda s, d: aggregates.distinct_sketch_union(
            _t(s, d, "documents"), "source", "text"
        ),
        "join_tagged_full_outer": lambda s, d: joins.tagged_full_outer_join(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "join_broadcast_dim": lambda s, d: joins.broadcast_dim_join(
            _t(s, d, "lineitem"), _t(s, d, "part"), _t(s, d, "supplier")
        ),
        "join_semi_whitelist": lambda s, d: joins.semi_join_whitelist(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        # subtrahend restricted to high-value orders so the anti side
        # is non-empty at every sf (every customer has *some* order)
        "join_anti_blocklist": lambda s, d: joins.anti_join_blocklist(
            _t(s, d, "customer"),
            _t(s, d, "orders").filter(F.col("o_totalprice") > 200000),
        ),
        "join_multiway": lambda s, d: joins.multiway_join(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
        ),
        "join_point_lookup": lambda s, d: joins.point_lookup_join(
            _t(s, d, "lineitem"), _t(s, d, "orders")
        ),
        "filter_regex_scan": lambda s, d: filters.regex_scan(_t(s, d, "documents")),
        "filter_text_grep": lambda s, d: filters.text_grep(_t(s, d, "documents")),
        "filter_category": lambda s, d: filters.category_filter(_t(s, d, "events")),
        "filter_classify": lambda s, d: filters.conditional_classify(
            _t(s, d, "customer")
        ),
        "filter_projection_rekey": lambda s, d: filters.projection_rekey(
            _t(s, d, "events")
        ),
        # DUST-style URL template mining over four synthesized URL
        # families (ids, dated posts, hex short links, static)
        "filter_url_templates": lambda s, d: filters.url_template_summary(
            _template_urls(s, d)
        ),
        "filter_blocklist": lambda s, d: filters.blocklist_filter(
            _t(s, d, "documents"), _blocked_sources(s, d)
        ),
        "filter_range_predicate": lambda s, d: filters.range_predicate(
            _t(s, d, "lineitem")
        ),
        "win_topk_per_group": lambda s, d: windows.topk_per_group(
            _t(s, d, "lineitem")
        ),
        "win_secondary_sort_rank": lambda s, d: windows.secondary_sort_rank(
            _t(s, d, "orders")
        ),
        "win_first_row_per_key": lambda s, d: windows.first_row_per_key(
            _t(s, d, "events")
        ),
        "win_segment_packing": lambda s, d: windows.segment_packing(
            _t(s, d, "orders")
        ),
        "win_round_robin": lambda s, d: windows.round_robin_assignment(
            _t(s, d, "documents")
        ),
        "win_paginate": lambda s, d: windows.paginate(
            _t(s, d, "customer"),
            "c_acctbal",
            ascending=False,
            offset=40,
            page_size=20,
            tiebreak="c_custkey",
        ),
        # salted two-phase agg/join must equal their plain equivalents
        "skew_salted_count": lambda s, d: skew.salted_count_by_key(
            _t(s, d, "orders"), "o_orderpriority", "o_orderkey"
        ),
        "skew_salted_join": lambda s, d: skew.salted_join(
            _t(s, d, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                F.col("o_custkey").alias("c_custkey"),
            ),
            _t(s, d, "customer").select("c_custkey", "c_mktsegment"),
            "c_custkey",
            "o_orderkey",
        ).select(
            "o_orderkey", "c_custkey", "c_mktsegment", "o_orderstatus"
        ).orderBy("o_orderkey"),
        "text_quality_buckets": lambda s, d: textstats.quality_buckets(
            _t(s, d, "documents")
        ),
        "setop_union_tagged": lambda s, d: setops.union_tagged(
            _t(s, d, "orders").filter(F.col("o_orderstatus") == "O"),
            _t(s, d, "orders").filter(F.col("o_orderstatus") == "F"),
        ),
        "setop_distinct": lambda s, d: setops.distinct_rows(_t(s, d, "orders")),
        "setop_except": lambda s, d: setops.except_keys(
            _t(s, d, "customer"),
            _t(s, d, "orders").filter(F.col("o_totalprice") > 200000),
        ),
        "setop_intersect": lambda s, d: setops.intersect_keys(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "dedup_exact": lambda s, d: dedup.exact_duplicates(_t(s, d, "documents")),
        "dedup_normalized": lambda s, d: dedup.normalized_duplicates(
            _t(s, d, "documents")
        ),
        "dedup_cross_source": lambda s, d: dedup.cross_source_duplicates(
            _t(s, d, "documents")
        ),
        # md5-twin LSH tier (operators/dedup.py md5_*): the same
        # banded sketch->bucket-join->verify structure as the numpy
        # splitmix kernels (which stay the perf path, pytest-gated),
        # but built on md5 so the full candidate set hash-matches a
        # DuckDB oracle
        "dedup_simhash_lsh": lambda s, d: _simhash_pairs(s, d),
        "dedup_minhash_lsh": lambda s, d: _minhash_pairs(s, d),
        "dedup_simhash_clusters": lambda s, d: _simhash_clusters(s, d),
        # the composed hygiene pipeline: clusters -> representatives ->
        # decontamination -> quality floor -> per-source manifest, as
        # ONE Catalyst plan (operators/corpus.py)
        "pipeline_corpus_build": lambda s, d: corpus.corpus_build_manifest(
            _t(s, d, "documents"),
            clusters=_simhash_clusters(s, d),
        ),
        # post-cluster canonical selection (keep best, drop the rest)
        "dedup_cluster_representatives": lambda s, d: dedup.cluster_representatives(
            _t(s, d, "documents"),
            clusters=_simhash_clusters(s, d),
        ),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(
            _t(s, d, "documents"), threshold=0.95
        ),
        # EXACT set-similarity join via prefix filtering (AllPairs/
        # PPJoin): only each shingle-set's globally-rarest prefix
        # generates candidates, then exact verify -- the canonical
        # 100 TB exact-Jaccard algorithm next to the sketch tiers
        "dedup_setsim_prefix": lambda s, d: dedup.setsim_prefix_pairs(
            _tp(s, d, "documents")
        ),
        # directed containment |A∩B|/|A| (quote/boilerplate-inclusion
        # detection -- subset relations Jaccard structurally misses)
        "text_containment_pairs": lambda s, d: dedup.containment_pairs(
            _tp(s, d, "documents")
        ),
        # two-stage MinHash dedupe: banded-LSH pairs -> connected
        # components (the GPT-3/RefinedWeb-lineage fuzzy-dedup shape)
        "dedup_minhash_clusters": lambda s, d: dedup.md5_minhash_clusters(
            _t(s, d, "documents"), pairs=_minhash_pairs(s, d)
        ),
        # Heaps' law growth curve: docs/tokens/vocab accumulated at
        # ten closed-form doc-id-range checkpoints (no global sort)
        "text_heaps_profile": lambda s, d: textstats.corpus_heaps_profile(
            _t(s, d, "documents")
        ),
        # one-row corpus diagnostic: token/vocab/hapax counts + the
        # Zipf rank-frequency OLS slope in exact integer micro-units
        "text_zipf_profile": lambda s, d: textstats.corpus_zipf_profile(
            _t(s, d, "documents")
        ),
        # C4-style line-level page cleaning (Raffel et al. 2020) over
        # a deterministically rendered line corpus (the documents
        # table has no newlines -- see render_line_corpus docstring)
        "text_c4_filter": lambda s, d: textstats.c4_line_filter(
            textstats.render_line_corpus(_t(s, d, "documents"))
        ),
        # T5 span-corruption training-example layout (deterministic
        # period-15 mask: 20% noise density, mean span 3)
        "text_span_corruption": lambda s, d: textstats.span_corruption(
            _t(s, d, "documents")
        ),
        # jusText-style boilerplate/content block classification over
        # deterministically rendered pages (title/nav/content/short/
        # footer block structure per document)
        "text_boilerplate_blocks": lambda s, d: textstats.boilerplate_blocks(
            _boiler_pages(s, d)
        ),
        # DSIR importance resampling (Xie et al. 2023): hashed-unigram
        # log-likelihood-ratio score of every document against the
        # English slice as the target distribution, integer micro-unit
        # exact -- the pretraining-mix selection step
        "text_dsir_weights": lambda s, d: textstats.dsir_importance_weights(
            _t(s, d, "documents")
        ),
        # sketch-vs-exact evaluation as a query: one tp/fp/fn row for
        # the banded minhash against the exact Jaccard join on the
        # shared shingle table ('measure, don't guess' for dedup)
        "dedup_sketch_quality": lambda s, d: dedup.minhash_quality_report(
            _t(s, d, "documents"),
            tokens=_md5_tokens(s, d),
            pairs=_minhash_pairs(s, d),
        ),
        # PassJoin edit-distance join over deterministically typo'd
        # hostnames (drop-first-char and substitute-first-char
        # variants of part-derived hosts): segment-index candidates,
        # threshold-levenshtein verify
        "dedup_editdist_pairs": lambda s, d: dedup.editdist_pairs(
            _editdist_hosts(s, d), k=2
        ),
        "dedup_embedding_cosine": lambda s, d: dedup.embedding_near_duplicates(
            _t(s, d, "embeddings"), cosine_threshold=0.35
        ),
        "crawldb_merge": lambda s, d: crawldb.merge_crawldb_from_events(
            _t(s, d, "events")
        ),
        # crawl-over-crawl diff: keys added/removed/changed between
        # the two time-split snapshots (same split as the incremental
        # merge gate; same content signature as the recrawl scheduler)
        "crawldb_snapshot_delta": lambda s, d: crawldb.crawl_snapshot_delta(
            _t(s, d, "events").filter(F.col("ts") < "2024-01-15"),
            _t(s, d, "events").filter(F.col("ts") >= "2024-01-15"),
        ),
        # incremental merge of a time-split must equal the batch merge
        # (counts add, min/max compose, capped samples re-cap exactly).
        # sort=False: the previous-merged side feeds the fold's join,
        # which re-clusters by key -- its orderBy was pure waste here
        # (a stored mergeDB is read unsorted in production anyway)
        "crawldb_incremental_merge": lambda s, d: crawldb.incremental_merge(
            crawldb.merge_crawldb_from_events(
                _t(s, d, "events").filter(F.col("ts") < "2024-01-15"),
                sort=False,
            ),
            crawldb.typed_records_from_events(
                _t(s, d, "events").filter(F.col("ts") >= "2024-01-15")
            ),
        ),
        # full-fidelity merged record: nested crawl_stats[] built per
        # CrawlDBMergingReducer, flattened to scalar rows for the gate
        "crawldb_merge_full": lambda s, d: crawldb.merged_full_flat(
            crawldb.merge_crawldb_full(
                crawldb.full_status_records_from_events(_t(s, d, "events")),
                crawldb.full_link_records_from_events(_t(s, d, "events")),
            )
        ),
        "crawllist_generate": lambda s, d: crawllist.generate_crawl_list(
            _t(s, d, "orders")
        ),
        "crawldb_blekko_merge": _crawldb_blekko_merge,
        "crawllist_wikipedia_partition": _crawllist_wikipedia_partition,
        "crawllist_filtered_generate": _crawllist_filtered,
        # distributed robots.txt parse + URL verdict evaluation
        "robots_evaluate": _robots_evaluate,
        # robots.txt 'Sitemap:' discovery (stanza-independent,
        # case-insensitive, comment-stripped, repeatable): synthesized
        # blobs vary count and casing per host; oracle recomputes the
        # generator
        "robots_sitemap_discovery": lambda s, d: robots.extract_sitemap_urls(
            _robots_sitemap_blobs(s, d)
        ),
        # composed: robots verdicts + crawl-delay drive the per-host
        # politeness fetch plan (disallowed URLs never enter a slot;
        # a host's Crawl-Delay becomes its fetch interval)
        "pipeline_robots_fetch_plan": lambda s, d: crawllist.politeness_schedule(
            _robots_verdicts(s, d)
            .filter(F.col("allowed"))
            .select(
                "key",
                "host",
                F.lit(0).alias("prio"),
                F.when(
                    F.col("crawl_delay_ms") >= 0, F.col("crawl_delay_ms")
                ).alias("rate"),
            ),
            host_col="host",
            priority_col="prio",
            rate_col="rate",
        ),
        # per-host politeness fetch plan over the filtered crawl list
        "crawllist_politeness": lambda s, d: crawllist.politeness_schedule(
            _crawllist_filtered(s, d)
        ),
        # named blog-platform probe-URL rules
        # (GenBlogPlatformUrlsStep.java:169-334): platform from root
        # domain, per-platform archive calendars, the page/2-skip
        # wordpress pagination quirk, typepad trailing slash, tumblr
        # /archive -- oracle recomputes every rule in closed form
        "crawllist_blog_platform_urls": _blog_platform_gate,
        # per-host fetch-window capacity: which URLs fit the politeness
        # serialization inside 3s, which defer to the next cycle
        "crawllist_budget_plan": lambda s, d: crawllist.crawl_budget_summary(
            _crawllist_filtered(s, d), window_ms=3000
        ),
        # history-driven recrawl intervals (Cho & Garcia-Molina change-
        # rate MLE): the adaptive upgrade over the reference's static
        # ReCrawlTimeModifier rules; signature quantized so revisits
        # contain both changed and unchanged observations
        "crawllist_adaptive_recrawl": lambda s, d: crawllist.adaptive_recrawl_schedule(
            _t(s, d, "events"), signature=F.floor(F.col("value") / 25)
        ),
        # IDN -> punycode host canonicalization (RFC 3490 bootstring
        # via the stdlib idna codec, Arrow-batched): hosts cycle
        # through a fixed unicode set so the oracle pins the KNOWN
        # encodings -- DuckDB cannot compute punycode, the expected
        # strings are facts of the RFC
        "fn_idn_hosts": lambda s, d: (
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.element_at(
                    F.array(
                        F.lit("bücher.de"),
                        F.lit("münchen.de"),
                        F.lit("寿司.jp"),
                        F.lit("królik.pl"),
                        F.lit("WWW.Émile.FR."),
                    ),
                    (F.col("doc_id") % 5 + 1).cast("int"),
                ).alias("host"),
            )
            .withColumn("ascii_host", urlfn.idna_host_udf(F.col("host")))
            .orderBy("doc_id")
        ),
        "fn_url_canonicalize": lambda s, d: (
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.concat(
                    F.lit("HTTP://WWW."),
                    F.upper(F.col("source")),
                    F.lit(".Example.COM:80/Page/"),
                    F.col("doc_id").cast("string"),
                    F.lit("?utm_source=feed&ID="),
                    F.col("doc_id").cast("string"),
                    F.lit("&jsessionid=abc123#sec1"),
                ).alias("raw_url"),
            )
            .select(
                "doc_id",
                urlfn.canonicalize_url_udf(F.col("raw_url")).alias("canonical"),
            )
            .orderBy("doc_id")
        ),
        "fn_url_root_domain": lambda s, d: (
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.concat(F.lit("news.blogs."), F.col("source"), F.lit(".co.uk"))
                .alias("host_uk"),
                F.concat(F.lit("cdn."), F.col("source"), F.lit(".example.com"))
                .alias("host_com"),
            )
            .select(
                "doc_id",
                urlfn.root_domain_udf(F.col("host_uk")).alias("root_uk"),
                urlfn.root_domain_udf(F.col("host_com")).alias("root_com"),
            )
            .orderBy("doc_id")
        ),
        "fn_ip_roundtrip": lambda s, d: (
            _t(s, d, "customer")
            .select(
                "c_custkey",
                F.concat_ws(
                    ".",
                    (F.col("c_custkey") % 223 + 1).cast("string"),
                    (F.col("c_custkey") % 256).cast("string"),
                    (F.col("c_custkey") * 7 % 256).cast("string"),
                    (F.col("c_custkey") * 13 % 256).cast("string"),
                ).alias("ip"),
            )
            .select(
                "c_custkey",
                "ip",
                urlfn.ip_to_int_expr(F.col("ip")).alias("ip_int"),
                urlfn.int_to_ip_expr(urlfn.ip_to_int_expr(F.col("ip"))).alias(
                    "ip_back"
                ),
            )
            .orderBy("c_custkey")
        ),
        "fn_parse_headers": _fn_parse_headers,
        "fn_parse_cookies": _fn_parse_cookies,
        "fn_extract_links": _fn_extract_links,
        "fn_extract_feeds": _fn_extract_feeds,
        "fn_json_props": lambda s, d: (
            _t(s, d, "events")
            .select(
                F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
                "value",
            )
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                numeric.dsum("value").alias("sum_value"),
            )
            .orderBy("k")
        ),
        "mm_content_stats": lambda s, d: multimodal.content_stats(
            multimodal.media_from_documents(_t(s, d, "documents"))
        ),
        "mm_frame_sample": lambda s, d: multimodal.frame_sample(
            multimodal.media_from_documents(_t(s, d, "documents")), frame_bytes=64
        ).select("media_id", "frame_idx", "frame_len").transform(_share_sort).orderBy(
            "media_id", "frame_idx"
        ),
        # fake16 codec runs through the real mapInPandas decode; the
        # gate explodes the 16-bin histogram to scalar rows so the
        # driver canonicalizer can sort/hash it (array columns are
        # unhashable in its pandas sort), and the oracle recomputes
        # each byte's high nibble from hex(encode(text))
        "mm_decode_fake": lambda s, d: (
            multimodal.decode_media(
                multimodal.media_from_documents(_t(s, d, "documents")),
                codec="fake16",
            )
            .select(
                "media_id", "n_bytes", F.posexplode("features").alias("bin_idx", "bin_value")
            )
            .select(
                "media_id",
                "bin_idx",
                F.round("bin_value", 6).alias("bin_value"),
                "n_bytes",
            )
            .transform(_share_sort)
            .orderBy("media_id", "bin_idx")
        ),
        # real netpbm decoder: Spark parses the actual bytes; the
        # oracle recomputes expected features from the synthesizer
        # definition
        "mm_decode_ppm": lambda s, d: multimodal.decode_ppm(
            multimodal.synthesize_ppm(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # perceptual dHash fingerprints + exact-duplicate groups over
        # the real PPM decode (image near-dup tier)
        "mm_image_dhash": lambda s, d: multimodal.image_dhash(
            multimodal.synthesize_ppm(_t(s, d, "documents"))
        ),
        "mm_dhash_dup_groups": lambda s, d: multimodal.image_dhash_dup_groups(
            multimodal.synthesize_ppm(_t(s, d, "documents"))
        ),
        # real COMPRESSED-format decode: stdlib-zlib PNG (inflate +
        # scanline unfilter over all five filter types); same pixel
        # formula as the PPM twin so the oracle is shared closed-form
        "mm_decode_png": lambda s, d: multimodal.decode_png(
            multimodal.synthesize_png(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # real GIF decode: LZW (variable code width, LSB packing),
        # 256-gray palette, odd ids written interlaced (4-pass)
        "mm_decode_gif": lambda s, d: multimodal.decode_gif(
            multimodal.synthesize_gif(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # real baseline JPEG decode (T.81 grayscale subset: marker
        # walk, canonical Huffman, DC prediction, dequant, IDCT);
        # flat blocks make the lossy path bit-exact for the oracle
        "mm_decode_jpeg": lambda s, d: multimodal.decode_jpeg(
            multimodal.synthesize_jpeg(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # PROGRESSIVE (SOF2) grayscale JPEG: 6-scan Annex-G script
        # (spectral selection + DC/AC successive approximation,
        # EOBRUN, correction bits); non-multiple-of-8 widths so edge
        # blocks pad; round-6 session addition, waits for the
        # round-7 rotation, swept in CORRECTNESS_SELF_r06*
        "mm_decode_jpeg_progressive": lambda s, d:
        multimodal.decode_jpeg_progressive(
            multimodal.synthesize_jpeg_progressive(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # COLOR baseline JPEG: interleaved YCbCr 4:4:4 MCUs with
        # per-component DC prediction + libjpeg fixed-point YCbCr->RGB
        # (pure integer, so the oracle recomputes it exactly)
        "mm_decode_jpeg_color": lambda s, d: multimodal.decode_jpeg_color(
            multimodal.synthesize_jpeg_color(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # 4:2:0 chroma subsampling (the dominant real-world layout):
        # MCU = 4 luma + 1 Cb + 1 Cr blocks; chroma flat per 16x16
        # macroblock so downsample/upsample are exact
        # progressive COLOR twin of the 4:2:0 gate: identical content
        # and oracle, through the interleaved-DC / per-component-AC
        # multi-scan path; round-6 session addition, waits for the
        # round-7 rotation, swept in CORRECTNESS_SELF_r06*
        "mm_decode_jpeg_progressive_color": lambda s, d:
        multimodal.decode_jpeg_progressive_color(
            multimodal.synthesize_jpeg_progressive_color(
                _t(s, d, "documents")
            )
        ).transform(_share_sort).orderBy("media_id"),
        "mm_decode_jpeg_420": lambda s, d: multimodal.decode_jpeg_color(
            multimodal.synthesize_jpeg_420(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # pack-file sources: ustar member walk (checksum-validated --
        # the WebDataset shard manifest) and zip central-directory
        # extraction (stored + real zlib inflate, CRC-checked);
        # stdlib-interop proven both directions in tests
        # RFC 9112 chunked transfer-encoding decode behind the pure-
        # Column HTTP extract: flag JVM-side, kernel only where set
        "source_warc_dechunk": _warc_dechunk_gate,
        # RFC 1035 DNS wire parse: header/question/answer walk with
        # compression-pointer following (loop/forward-jump guarded),
        # CNAME chains, A rdata as the integer iptohost join key
        "fn_dns_wire_parse": lambda s, d: dnswire.dns_resolutions(
            dnswire.synthesize_dns(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # streaming WebDataset manifest: write shards -> readStream
        # tail -> member walk -> parquet sink (batch-identical rows)
        "stream_tar_manifest": _stream_tar_manifest,
        # SRT/WebVTT subtitle cues: timestamp grammar (comma AND dot
        # millis, optional hours), header/id/settings handling --
        # the alignment units a caption corpus trains on
        # round-8: the WebVTT twin -- magic + header metadata block,
        # named cue ids, cue settings after the end timestamp, short
        # MM:SS.mmm timestamps; identical cue timing closed forms
        "source_vtt_cues": lambda s, d: packfiles.subtitle_stats(
            packfiles.synthesize_webvtt(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        "source_srt_cues": lambda s, d: packfiles.subtitle_stats(
            packfiles.synthesize_srt(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        # HLS playlists (RFC 8216): EXTINF/URI pairing, target
        # duration, media sequence, VOD flag, exact millisecond totals
        "source_hls_manifest": lambda s, d: packfiles.hls_manifest_stats(
            packfiles.synthesize_m3u8(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id"),
        "source_tar_members": lambda s, d: packfiles.tar_members(
            packfiles.synthesize_tar(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id", "name"),
        "source_zip_extract": lambda s, d: packfiles.zip_members(
            packfiles.synthesize_zip(_t(s, d, "documents"))
        ).transform(_share_sort).orderBy("media_id", "name"),
        # real BMP decode (BI_RGB 24-bit DIB: BGR order, 4-byte row
        # padding, bottom-up rows) -- same pixel formula as the PPM
        # gate, so the decoders are differentially comparable
        "mm_decode_bmp": lambda s, d: multimodal.decode_bmp(
            multimodal.synthesize_bmp(_t(s, d, "documents"))
        ),
        # consistent-hash ring (Karger 1997): the elastic upgrade of
        # the reference's modulo host-sharding; ring broadcast, one
        # min_by per distinct key
        "layout_consistent_hash": lambda s, d: layout.consistent_hash_assign(
            _t(s, d, "documents").select(
                F.concat(
                    F.lit("h"),
                    F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
                ).alias("host")
            ),
            n_workers=8,
            vnodes=16,
        ),
        # Morton/Z-order clustering key: pure Column bit-interleave
        # (whole-stage codegen) -> data-skipping file layout
        "layout_zorder": lambda s, d: layout.zorder_events(
            _t(s, d, "events")
        ),
        # small-file compaction plan: per-table-partition running-sum
        # binning (one window per prefix, no global window)
        "layout_compaction_bins": lambda s, d: layout.compaction_bins(
            layout.documents_file_listing(_t(s, d, "documents"))
        ),
        # interpolated Kneser-Ney trigram scoring (the standard
        # smoothing next to the stupid-backoff counts-only tier);
        # probability computed with an engine-identical IEEE
        # expression tree, quantized once, ln over the integer
        "text_kneser_ney_lm": lambda s, d: textstats.kneser_ney_scores(
            _t(s, d, "documents")
        ),
        # WordPiece greedy longest-match-first (BERT lineage) and
        # Unigram-LM Viterbi (SentencePiece lineage) -- with bpe.py
        # this closes the three production tokenizer families; both
        # run on the distinct-word table, never the corpus
        "text_wordpiece_encode": _wordpiece_gate,
        "text_unigram_encode": _unigram_gate,
        "text_unigram_train": _unigram_train_gate,
        "text_tokenize_corpus": _tokenize_corpus_gate,
        # RFC 9309 robots semantics ('*' wildcards, '$' anchors,
        # longest-match-wins, allow-wins-ties) over the shared
        # parse_robot_rules output -- the modern twin of
        # robots_evaluate's first-match prefix contract
        "robots_rfc9309_match": _robots_rfc9309_gate,
        # longest-prefix CIDR match decomposed into per-length
        # broadcast hash equi-joins (corpus never shuffled)
        "filter_cidr_match": lambda s, d: filters.cidr_longest_prefix_match(
            _t(s, d, "events").select(
                "event_id",
                (F.lit(167772160) + F.pmod(F.col("event_id") * 7919,
                                           F.lit(140000)))
                .cast("long")
                .alias("ip"),
            ),
            _cidr_blocklist(s, d),
        ).orderBy("event_id"),
        # tile -> feature: per-row-band, per-channel pixel stats over
        # the real PPM decode
        "mm_image_bands": lambda s, d: multimodal.image_band_stats(
            multimodal.synthesize_ppm(_t(s, d, "documents")), band_h=4
        ),
        # real nearest-neighbor thumbnailer over the real PPM decode;
        # thumb_md5 is audit-only (not SQL-expressible), so the gate
        # compares the sampled-pixel sum the oracle can recompute
        "mm_resize_ppm": lambda s, d: multimodal.resize_ppm(
            multimodal.synthesize_ppm(_t(s, d, "documents")), width=4, height=3
        )
        .select("media_id", "width", "height", "sum_thumb")
        .orderBy("media_id"),
        "query_domain_list": _query_domain_list,
        "query_domain_resort": _query_domain_resort,
        "query_url_detail": lambda s, d: query_api.QueryServer(
            s, _scratch("qcache_v1", d)
        ).url_detail_query(_t(s, d, "orders"), "o_orderkey", 100),
        "query_inverse_links": lambda s, d: query_api.QueryServer(
            s, _scratch("qcache_v1", d)
        ).inverse_links_query(
            graph.inverse_links(_edges(s, d)),
            root=7,
            info=query_api.ClientQueryInfo(
                sort_field="inlink_count",
                ascending=False,
                offset=0,
                page_size=10,
                tiebreak="dst",
            ),
        ),
        "stream_windowed_stats": _stream_windowed_stats,
        "stream_distinct_pairs": _stream_distinct_pairs,
        # streaming HLL: bounded register state, batch-identical result
        "stream_distinct_sketch": _stream_distinct_sketch,
        "stream_countmin": _stream_countmin,
        # incremental minhash: streaming signature state + batch
        # banding -- the streaming half of the dedup pipeline
        "stream_minhash_dedup": _stream_minhash_dedup,
        # stream-static join: micro-batches enrich against the
        # customer dim snapshot (stateless inner join, dim broadcast)
        "stream_static_enrich": _stream_static_enrich,
        # stream-stream join: watermarked state on both sides
        "stream_stream_attribution": _stream_stream_attribution,
        "sessionize_events": lambda s, d: sessions.sessionize(
            _t(s, d, "events"), gap_minutes=60
        ),
        # the NATIVE merging session_window aggregate (no per-user
        # sort pass; the streaming-capable formulation)
        "win_session_window": lambda s, d: windows.session_window_stats(
            _t(s, d, "events"), gap_minutes=60
        ),
        "stream_sessionize": _stream_sessionize,
        # foreachBatch generational upsert: gen-N + delta -> gen-N+1
        # (the CrawlDB merge as a restartable streaming sink)
        "stream_generational_upsert": _stream_generational_upsert,
        "source_xml_roundtrip": _xml_roundtrip,
        # sitemap.xml discovery channel: parse must exactly invert the
        # deterministic synthesis (oracle recomputes the generator)
        # the blob table is scanned twice inside parse_sitemap (urlset
        # + sitemapindex block passes); a lazy RDD boundary runs the
        # synthesis groupBy once and shares it (no extra job)
        "source_sitemap_parse": lambda s, d: xmlsource.parse_sitemap(
            _sitemap_blobs(s, d).localCheckpoint(eager=False)
        ),
        # bloom FP set is deterministic but not SQL-expressible ->
        # rows-only check; no-false-negative property is pytest-gated
        # candidates = seen custkeys + provably-unseen shifted keys:
        # the filter must drop (almost) all of the first group and
        # pass (almost) all of the second. distributed=True exercises
        # the chunk-shard join probe (the 100 TB path: the bitmap
        # never leaves the cluster); closure-path equivalence is
        # pytest-gated (test_bloom_matchers_xml)
        "bloom_frontier_filter": lambda s, d: bloom.bloom_drop_seen(
            _t(s, d, "customer")
            .select(F.col("c_custkey").alias("key"))
            .unionByName(
                _t(s, d, "customer").select(
                    (F.col("c_custkey") + 100_000_000).alias("key")
                )
            ),
            _t(s, d, "orders").select(F.col("o_custkey").alias("key")),
            "key",
            distributed=True,
        ).orderBy("key"),
        "source_archive_roundtrip": _archive_roundtrip,
        "source_arc_v1_roundtrip": _arc_v1_roundtrip,
        "source_warc_roundtrip": _warc_roundtrip,
        "source_cdx_index": _cdx_index_gate,
        # bulk-extraction planner over index pointers (ranged-GET
        # coalescing); round-6 session addition -- waits for the
        # round-7 rotation, swept in CORRECTNESS_SELF_r06*
        "source_fetch_plan": _fetch_plan_gate,
        # index -> selection -> range coalescing -> bounded
        # extraction, composed; round-6 session addition, waits for
        # the round-7 rotation, swept in CORRECTNESS_SELF_r06*
        "pipeline_selective_extract": _selective_extract_gate,
        "source_warc_http_extract": _warc_http_extract,
        "source_wet_extract": _wet_extract,
        "source_wat_metadata": _wat_metadata,
        "source_ccindex_table": _ccindex_gate,
        "stream_ccindex_build": _stream_ccindex_build,
        "pipeline_archive_linkgraph": _pipeline_archive_linkgraph,
        "source_warc_revisit": _warc_revisit_gate,
        # Rice-coded fingerprint lists (util/RiceCoding.java +
        # CompressedURLFPListV2 shape): per-group delta+Rice buffers
        # with in-kernel decode-verify; the oracle recomputes n/bits/
        # checksum closed-form
        "fn_rice_fp_lists": lambda s, d: ricecoding.compress_fp_lists(
            _t(s, d, "documents"), group_col="source", fp_col="doc_id", m=6
        ),
        # compressed positional-index build: per TERM, the sorted
        # posting list delta+Rice encoded with in-kernel decode-verify
        # -- CompressedURLFPListV2 applied to a text inverted index;
        # m=2 fits the dense doc-id deltas of per-term postings
        "text_inverted_index": lambda s, d: ricecoding.compress_fp_lists(
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.explode(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                ).alias("term"),
            )
            .filter(F.col("term") != "")
            .distinct(),
            group_col="term",
            fp_col="doc_id",
            m=2,
        ),
        "source_csv_import": _csv_roundtrip,
        # newline-delimited JSON sidecar ingest (explicit schema,
        # nested struct, bit-faithful doubles via string leaves)
        "source_jsonl_roundtrip": _jsonl_roundtrip,
        "source_timeseries_tail": _timeseries_tail,
        "source_multi_sink": _multi_sink_readback,
        "graph_link_edges": lambda s, d: _edges(s, d).orderBy(
            "src", "dst", "link_type"
        ),
        "graph_inverse_links": lambda s, d: graph.inverse_links(_edges(s, d)),
        "graph_degree_stats": lambda s, d: graph.degree_stats(_edges(s, d)),
        "graph_pagerank": lambda s, d: graph.pagerank(_edges(s, d), iterations=3),
        # OPIC crawl priority (Abiteboul et al. 2003): cash/history
        # circulation with even dangling redistribution -- the online
        # frontier-priority twin of the batch PageRank above
        "graph_opic": lambda s, d: graph.opic(_edges(s, d), iterations=4),
        # topic-sensitive PageRank: teleport returns only to the
        # seed set (every 50th node id) -- TrustRank-style proximity
        "graph_pagerank_personalized": lambda s, d: graph.pagerank_personalized(
            _edges(s, d),
            seeds=graph.graph_nodes(_edges(s, d)).filter(
                F.col("node") % 50 == 0
            ),
            iterations=3,
        ),
        # data-driven iteration count: stops when the exact fixed-point
        # max-delta falls to 1e-2 (PageRankUtils.java:120-143 iterate-
        # until-done semantics, Observation-folded like CC)
        "graph_pagerank_converged": lambda s, d: graph.pagerank_converged(
            _edges(s, d), epsilon=0.01, damp_num=50, damp_den=100,
            max_iterations=30,
        ),
        # the shared eager `_edges` checkpoint feeds super_domains and
        # the rank loop (the former extra lazy-checkpoint wrapper was
        # redundant once _edges became a cached eager checkpoint, and
        # it hid the row-count stamp the loop scope reads)
        "graph_pagerank_rootavg": lambda s, d: (
            lambda e: graph.pagerank_root_averaged(
                e, super_roots=graph.super_domains(e, threshold=25), iterations=2
            )
        )(_edges(s, d)),
        "graph_connected_components": lambda s, d: _cc_labels(s, d),
        "graph_component_sizes": lambda s, d: graph.component_sizes(
            _cc_labels(s, d)
        ),
        "graph_domain_rank": lambda s, d: graph.domain_rank(_edges(s, d)),
        "graph_super_domains": lambda s, d: graph.super_domains(
            _edges(s, d), threshold=25
        ),
        "sim_brute_force_topk": lambda s, d: similarity.brute_force_topk(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("probe_id"), "embedding"),
            k=5,
        ),
        # contrastive hard negatives: nearest neighbors under a
        # label-inequality predicate (the embedding-training miner)
        "sim_hard_negatives": lambda s, d: similarity.hard_negative_mining(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(
                F.col("vec_id").alias("probe_id"), "embedding", "label"
            ),
            k=5,
        ),
        # iterative kmeans quantizer -> rows-only check; recall vs
        # brute force is pytest-gated (test_ivf_metrics)
        # label-routed IVF: same inverted-file mechanics (bucketed
        # corpus, probe->n_probe cells, in-cell exact re-rank) with the
        # label column as the coarse quantizer, so the whole query is
        # SQL-expressible and hash-checked; the kmeans quantizer path
        # is recall-gated in pytest (test_ivf_metrics)
        # product-quantization ANN: anchor codebooks, exact-bigint ADC
        "sim_pq_topk": lambda s, d: similarity.pq_topk(
            _t(s, d, "embeddings")
        ),
        # trained PQ: per-subspace exact-integer Lloyd refinement in
        # one composed plan per iteration (global max-delta stop)
        "sim_pq_trained_topk": lambda s, d: similarity.pq_topk(
            _t(s, d, "embeddings"), train_iterations=6
        ),
        # scalar-quantization ANN (SQ8): per-dim min/max codes,
        # asymmetric exact-integer distances to dequantized vectors
        "sim_sq_topk": lambda s, d: similarity.sq_topk(
            _t(s, d, "embeddings")
        ),
        # IVF-PQ (the full Jegou et al. 2011 system): inverted-list
        # pruning + PQ ADC ranking inside the probed cells
        "sim_ivfpq_topk": lambda s, d: similarity.ivfpq_topk(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("probe_id"), "embedding"),
            cells=_t(s, d, "embeddings").select(
                "vec_id", F.col("label").alias("cell")
            ),
            n_probe=2,
        ),
        "sim_ivf_topk": lambda s, d: similarity.ivf_topk(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("probe_id"), "embedding"),
            k=5,
            n_probe=2,
            cells=_t(s, d, "embeddings").select(
                "vec_id", F.col("label").alias("cell")
            ),
        ),
        "sim_label_centroids": lambda s, d: similarity.pairwise_label_centroids(
            _t(s, d, "embeddings")
        ),
        # md5-derived hyperplanes + integer-quantized sign decisions:
        # the full multi-table LSH candidate set hash-matches the
        # oracle (the numpy-plane lsh_topk stays the perf path,
        # recall-gated in pytest)
        "sim_lsh_topk": lambda s, d: similarity.md5_lsh_topk(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("probe_id"), "embedding"),
            k=5,
        ),
        # distributed exact-integer Lloyd's k-means run to a
        # data-driven stop (Observation-folded centroid delta, the
        # pagerank_converged mechanism applied to iterative ML)
        "sim_kmeans_exact": lambda s, d: _kmeans_assign(s, d).orderBy(
            "vec_id"
        ),
        # SemDeDup over the shared k-means cells: cluster-blocked
        # pairwise cosine, keep-lowest per dense neighborhood
        "dedup_semantic": lambda s, d: dedup.semantic_duplicates(
            _t(s, d, "embeddings"),
            _kmeans_assign(s, d),
            cosine_threshold=0.35,
        ),
        # classic BPE subword tokenizer: learned merge table +
        # per-doc token accounting with the merges applied
        "text_bpe_merges": lambda s, d: bpe.merge_table(
            _t(s, d, "documents"), merges=_bpe_merges(s, d)
        ),
        "text_bpe_encode": lambda s, d: bpe.encode_token_counts(
            _t(s, d, "documents"), merges=_bpe_merges(s, d)
        ),
        # tokenizer-fairness report: subword fertility and chars per
        # token per language, over the same learned merge table
        "text_bpe_fertility": lambda s, d: bpe.fertility_by_language(
            _t(s, d, "documents"), merges=_bpe_merges(s, d)
        ),
        # fastText-style hashed linear quality classifier inference
        "text_quality_classifier": lambda s, d: (
            textstats.hashed_quality_scores(_t(s, d, "documents"))
        ),
        # Cavnar-Trenkle n-gram langid vs the labeled lang column
        "text_langid_ngram": lambda s, d: (
            textstats.langid_ngram_confusion(_t(s, d, "documents"))
        ),
        "text_document_profile": lambda s, d: textstats.document_profile(
            _t(s, d, "documents")
        ),
        "text_language_profile": lambda s, d: textstats.language_profile(
            _t(s, d, "documents")
        ),
        "text_token_stats": lambda s, d: textstats.token_stats_by_source(
            _t(s, d, "documents")
        ),
        "text_fingerprint": lambda s, d: textstats.fingerprint_documents(
            _t(s, d, "documents")
        ).select("doc_id", "md5_sig"),
        "dedup_winnow_pairs": lambda s, d: dedup.winnow_candidate_pairs(
            _tp(s, d, "documents")
        ),
        "text_regex_tokens": lambda s, d: textstats.regex_token_profile(
            _t(s, d, "documents")
        ),
        "text_winnow_fingerprint": lambda s, d: textstats.winnow_fingerprint_profile(
            _tp(s, d, "documents")
        ),
        "text_quality_signals": lambda s, d: textstats.quality_signals(
            _t(s, d, "documents")
        ),
        "text_training_manifest": lambda s, d: textstats.training_manifest(
            _t(s, d, "documents")
        ),
        "text_redact_pii": lambda s, d: textstats.redact_pii(
            _t(s, d, "documents")
        ),
        "text_stratified_sample": lambda s, d: textstats.stratified_sample(
            _t(s, d, "documents"), rate_pct=10
        ),
        # deterministic global training-order shuffle: md5(seed:key)
        # permutation -> (shard, pos) addresses; windows partitioned
        # BY SHARD so no global sort task (operators/sampling.py)
        "text_training_shuffle": lambda s, d: sampling.training_shuffle(
            _t(s, d, "documents").select("doc_id"),
            seed="epoch0",
            n_shards=8,
        ).select("doc_id", "shuffle_key", "shard", "pos").orderBy(
            "shard", "pos"
        ),
        "text_vocabulary": lambda s, d: textstats.vocabulary(
            _t(s, d, "documents"), top_n=100
        ),
        # RAG/embedding preprocessing: overlapping token windows
        # corpus-level paragraph dedup (CCNet discipline) over
        # token-window paragraphs; drops cross-document boilerplate
        "text_paragraph_dedup": lambda s, d: textstats.paragraph_dedup(
            # fan the chunk explode out of the single-partition scan
            # and skip chunk_documents' global sort -- paragraph_dedup
            # re-shuffles by signature/doc immediately (guide 2.4)
            textstats.chunk_documents(
                _t(s, d, "documents").repartition(
                    s.sparkContext.defaultParallelism
                ),
                chunk_tokens=4,
                overlap=0,
                sort=False,
            ).select(
                "doc_id",
                F.col("chunk_idx").alias("para_idx"),
                F.col("chunk_text").alias("para_text"),
            ),
            max_doc_freq=2,
        ),
        # Gopher-style within-document n-gram repetition signals
        "text_repetition_signals": lambda s, d: textstats.repetition_signals(
            _t(s, d, "documents"), n=2
        ),
        # mean word surprisal under the corpus unigram distribution
        "text_unigram_surprisal": lambda s, d: textstats.unigram_logprob_scores(
            _t(s, d, "documents")
        ),
        # add-one-smoothed bigram LM surprisal (CCNet-style quality
        # filter, one step up from the unigram signal)
        "text_bigram_surprisal": lambda s, d: textstats.bigram_logprob_scores(
            _t(s, d, "documents")
        ),
        # CCNet head/middle/tail bucketing over the bigram-LM scores
        "text_perplexity_buckets": lambda s, d: textstats.perplexity_buckets(
            _t(s, d, "documents")
        ),
        # stupid-backoff trigram LM (Brants et al. 2007): train on
        # even docs, score the held-out rest -- the count-only
        # smoothing designed for MapReduce-scale corpora
        "text_backoff_lm": lambda s, d: textstats.stupid_backoff_scores(
            _t(s, d, "documents")
        ),
        # ExactSubstr duplicated-span profile (Lee et al. 2022):
        # maximal >=8-token runs occurring twice anywhere in the
        # corpus. The span table (shingle explode + corpus window)
        # dominates BOTH ExactSubstr gates and is identical between
        # them -- built once per (session, sf) via the _cached idiom
        # and passed through the spans= seam (r9-opt wave 6)
        "text_duplicate_spans": lambda s, d: textstats.duplicate_span_profile(
            _t(s, d, "documents"), min_len=8, spans=_dup_spans(s, d)
        ),
        # the actionable half: remove every duplicated span, rebuild
        # the surviving text in order
        "text_duplicate_trim": lambda s, d: textstats.duplicate_span_trim(
            _t(s, d, "documents"), min_len=8, spans=_dup_spans(s, d)
        ),
        # local clustering coefficients over the co-purchase graph
        "graph_clustering_coeff": lambda s, d: graph.clustering_coefficients(
            _copurchase_edges(s, d), max_degree=100
        ),
        # keyword-in-context snippets (search-hit rendering)
        "query_snippets": lambda s, d: query_api.keyword_snippets(
            _t(s, d, "documents"), term="spark", width=25
        ),
        # per-node triangle counts over the co-purchase part graph
        # (truncated at max_degree -- the power-law hub discipline)
        "graph_triangles": lambda s, d: graph.triangle_counts(
            _copurchase_edges(s, d), max_degree=100
        ),
        # HITS hubs/authorities (fixed iterations, exact integers)
        "graph_hits": lambda s, d: graph.hits_scores(
            _edges(s, d), iterations=2
        ),
        # 3-core of the link graph: iterative peeling, Observation-
        # folded fixpoint detection (same discipline as CC/PageRank)
        # synchronous LPA communities over the sparse subgraph
        # (deterministic smallest-label tie-break; fixed rounds)
        "graph_label_propagation": lambda s, d: graph.label_propagation(
            _cc_edges(s, d), iterations=4
        ),
        "graph_kcore": lambda s, d: graph.k_core(
            _edges(s, d), k=3, max_iterations=30
        ),
        # recursive-query tier (WITH RECURSIVE analog): reachability
        # closure by path doubling over the host-grain directed graph,
        # then bow-tie SCC labels from closure /\ closure^T
        "graph_reach_counts": lambda s, d: graph.reach_counts(
            _digraph_edges(s, d), closure=_digraph_closure(s, d)
        ),
        "graph_scc": lambda s, d: graph.strongly_connected_components(
            _digraph_edges(s, d), closure=_digraph_closure(s, d)
        ),
        # Broder bow-tie decomposition (core/in/out/other) -- the
        # canonical web-structure report, from the same closure
        "graph_bowtie": lambda s, d: graph.bowtie_classes(
            _digraph_edges(s, d), closure=_digraph_closure(s, d)
        ),
        # DeepWalk-style walk corpus with md5-derived (reproducible)
        # uniform choices -- the skip-gram training input
        "graph_random_walks": lambda s, d: graph.random_walks(
            _digraph_edges(s, d), walks_per_node=2, steps=6
        ),
        # longest-path levels of the condensation DAG (crawl tiers)
        "graph_condensation_levels": lambda s, d: graph.condensation_levels(
            _layered_digraph_edges(s, d), closure=_layered_closure(s, d)
        ),
        # HyperBall geometric centralities (Boldi-Vigna): per-node HLL
        # ball registers over the layered digraph; exact reach from
        # the SHARED layered closure is the parity/error column
        "graph_hyperball": _graph_hyperball,
        # neighborhood function N(t) + effective-diameter flag from
        # the same register iteration (observed totals, zero extra
        # jobs; cached per session like the other shared stages)
        "graph_neighborhood_function": _graph_neighborhood,
        # redirect/alias chain resolution by pointer doubling over a
        # functional host graph (terminals, 11-hop chains, real cycles)
        "graph_redirect_resolve": lambda s, d: graph.resolve_redirect_chains(
            _redirect_edges(s, d), max_rounds=7
        ),
        # inbound anchor-text aggregation per link target (the LinkDB
        # anchor index): one rollup pass + one window
        "graph_anchor_text": lambda s, d: graph.anchor_text_summary(
            _anchor_links(s, d), k=3
        ),
        # cc-webgraph host-level rollup: page links -> distinct host
        # pairs (reversed node names, intra-host dropped) + dense
        # node ids by sorted name via the bounded-sample bucket
        # ranker (operators/webgraph.py -- never a global-ORDER-BY
        # window)
        "graph_host_webgraph": lambda s, d: webgraph.host_graph_with_ids(
            _page_links(s, d), host_edges=_host_edges(s, d)
        ).orderBy("src_id", "dst_id"),
        # domain-level rollup: hosts collapse to eTLD+1 via the PSL
        # Column expression evaluated once per DISTINCT host
        # (functions/urls.root_domain_rev_expr), edge weight =
        # distinct host pairs behind the domain pair; consumes the
        # same materialized host-edge table as the host gate
        "graph_domain_webgraph": lambda s, d: webgraph.domain_graph(
            _host_edges(s, d)
        ).orderBy("src_domain_rev", "dst_domain_rev"),
        # the published RANKS artifact: fixed-point PageRank over the
        # host graph + rank ordinal by descending score WITHOUT a
        # global-sort window (monotone score-key through the same
        # bounded-sample bucket ranker that assigns node ids)
        "graph_webgraph_ranks": lambda s, d: webgraph.ranks(
            _host_edges(s, d), iterations=3
        ).orderBy("rank_ordinal"),
        # BM25 lexical ranking against a fixed bag-of-terms query
        "text_bm25_rank": lambda s, d: textstats.bm25_scores(
            _t(s, d, "documents"),
            terms=["spark", "window", "batch"],
            top_k=25,
        ),
        # PMI word-association pairs over top-vocab co-occurrence
        "text_pmi_pairs": lambda s, d: textstats.pmi_pairs(
            _t(s, d, "documents"), top_vocab=20, min_pair_docs=5
        ),
        # top-k TF-IDF keywords per document (exact-decimal ranking)
        "text_tfidf_keywords": lambda s, d: textstats.tfidf_keywords(
            _t(s, d, "documents"), top_k=3
        ),
        # concat-then-chunk training-sequence packing layout
        "text_pack_sequences": lambda s, d: textstats.pack_sequences(
            _t(s, d, "documents"), seq_len=256
        ),
        # weighted reservoir (A-ES) per-source corpus subsample
        "text_weighted_sample": lambda s, d: sampling.weighted_quota_sample(
            _t(s, d, "documents").select(
                "doc_id", "source", F.col("n_chars").cast("double").alias("w")
            ),
            group_cols=["source"],
            key_col="doc_id",
            weight_col="w",
            quota=25,
        ).orderBy("source", "doc_id"),
        "text_chunking": lambda s, d: textstats.chunk_documents(
            _t(s, d, "documents"), chunk_tokens=64, overlap=16
        ),
        # decontamination: deterministic 1-in-37 doc split plays the
        # held-out benchmark suite
        # mixture planning: weights derived deterministically from the
        # source name so the plan is parameter-free and replayable
        "text_mixture_plan": lambda s, d: sampling.mixture_plan(
            _t(s, d, "documents"),
            _t(s, d, "documents")
            .select("source")
            .distinct()
            .select(
                "source",
                ((F.length("source") % 3) + 1).cast("double").alias("weight"),
            ),
            token_budget=25000,
        ),
        "text_contamination_check": lambda s, d: textstats.contamination_check(
            _t(s, d, "documents").filter(F.col("doc_id") % 37 != 0),
            _t(s, d, "documents").filter(F.col("doc_id") % 37 == 0),
            n=5,
            min_shared=3,
        ),
        "join_asof": lambda s, d: joins.asof_join_events(_t(s, d, "events")),
        "stream_asof": _stream_asof,
        "join_range_bucketed": lambda s, d: joins.campaign_window_stats(
            _t(s, d, "events"), n_campaigns=20
        ),
    }
    # The correctness harness gates the FIRST 50 entries in insertion
    # order (each CORRECTNESS_r0N.json contains exactly the leading
    # 50 of its round). Union of r01-r05 driver-validates 178/220 of
    # the round-5 surface; every entry not in this round's 50 is
    # r2-r5 driver-green with code unchanged this round, stays
    # pytest-covered, and is swept at sf0.01 + sf0.1 in the round's
    # CORRECTNESS_SELF_r06* records (tools/check_all_oracles.py).
    priority = [
        # ---- ROUND-10 ROTATION ---------------------------------------
        # The driver gates the FIRST 50 entries. This round fronts the
        # STALEST driver rows: all 37 gates whose last driver
        # validation was round 4 (graph_clustering_coeff leads, as the
        # round-9 rotation promised), plus 13 round-5-validated gates
        # chosen because their code changed in this optimization round
        # (the loop-scope graph tier, the dedup cluster loops, the
        # setsim/containment pre-sort boundaries) or they sit in the
        # round-9 regression watchlist. Computed from the union of
        # CORRECTNESS_r01-r09; the full mapping is in ROTATION_r10.md.
        # Everything outside the window is r6-r9 driver-green and is
        # swept at sf0.01 + sf0.1 in CORRECTNESS_SELF_r10*. The list
        # holds 48 names; the first two gates of the base order
        # (agg_pricing_summary, agg_stats_aggregation) fill the window.
        "graph_clustering_coeff",
        "graph_component_sizes",
        "graph_connected_components",
        "graph_hits",
        "graph_triangles",
        "join_anti_blocklist",
        "join_asof",
        "join_broadcast_dim",
        "join_range_bucketed",
        "join_semi_whitelist",
        "join_tagged_full_outer",
        "mm_decode_fake",
        "mm_decode_ppm",
        "mm_image_bands",
        "mm_resize_ppm",
        "pipeline_corpus_build",
        "query_domain_resort",
        "query_snippets",
        "robots_evaluate",
        "sim_lsh_topk",
        "stream_static_enrich",
        "stream_stream_attribution",
        "text_bm25_rank",
        "text_chunking",
        "text_contamination_check",
        "text_mixture_plan",
        "text_paragraph_dedup",
        "text_pmi_pairs",
        "text_redact_pii",
        "text_repetition_signals",
        "text_stratified_sample",
        "text_tfidf_keywords",
        "text_unigram_surprisal",
        "text_vocabulary",
        "text_weighted_sample",
        "graph_pagerank_converged",
        "graph_pagerank_personalized",
        "graph_label_propagation",
        "graph_condensation_levels",
        "graph_kcore",
        "graph_scc",
        "graph_bowtie",
        "sim_kmeans_exact",
        "sim_pq_trained_topk",
        "dedup_minhash_clusters",
        "dedup_setsim_prefix",
        "text_containment_pairs",
        "dedup_sketch_quality",
    ]
    ordered = {k: base[k] for k in priority}
    ordered.update({k: v for k, v in base.items() if k not in ordered})

    # record the running gate's name so _cached can attribute each
    # shared artifact's first-touch build cost on stderr (round-9
    # verdict item 7); pure bookkeeping around the builder call
    def _named(name, fn):
        def wrapped(s, d):
            global _CURRENT_GATE
            prev, gate = _CURRENT_GATE, name
            _CURRENT_GATE = gate
            try:
                return fn(s, d)
            finally:
                _CURRENT_GATE = prev

        return wrapped

    return {k: _named(k, v) for k, v in ordered.items()}


_CCINDEX_SQL = """
            SELECT doc_id,
                   'com,example,' || source || ')/w/'
                       || CAST(doc_id AS VARCHAR) AS url_surtkey,
                   source || '.example.com' AS url_host_name,
                   'com.example.' || source AS url_host_reversed,
                   'example.com' AS url_host_registered_domain,
                   'com' AS url_host_tld,
                   '/w/' || CAST(doc_id AS VARCHAR) AS url_path,
                   '' AS url_query,
                   make_timestamp(2024, 4, CAST(doc_id % 28 + 1 AS INT),
                                  CAST(doc_id % 24 AS INT),
                                  CAST(doc_id % 60 AS INT), 0)
                       AS fetch_time,
                   CAST(200 AS INT) AS fetch_status,
                   'text/html' AS content_mime_type,
                   'utf-8' AS content_charset,
                   TRUE AS has_pointer
            FROM documents WHERE doc_id % 10 <> 0
            ORDER BY doc_id
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (views pre-registered)."""
    return {
        "agg_pricing_summary": """
            WITH d AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(l_quantity AS DECIMAL(15,2)) AS qty,
                       CAST(l_extendedprice AS DECIMAL(15,2)) AS ep,
                       CAST(l_discount AS DECIMAL(4,2)) AS disc,
                       CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS dm,
                       CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS tm
                FROM lineitem
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(qty), 3) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(ep), 3) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(ep * dm), 3) AS DOUBLE) AS sum_disc_price,
                   CAST(round(sum(ep * dm * tm), 3) AS DOUBLE) AS sum_charge,
                   round(CAST(round(sum(qty), 3) AS DOUBLE) / count(*), 6) AS avg_qty,
                   round(CAST(round(sum(ep), 3) AS DOUBLE) / count(*), 6) AS avg_price,
                   round(CAST(round(sum(disc), 3) AS DOUBLE) / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM d
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "agg_stats_aggregation": """
            SELECT c_mktsegment,
                   count(*) AS order_count,
                   CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_count,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS filled_count,
                   count(DISTINCT o_custkey) AS distinct_customers,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 3) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "agg_group_count": """
            SELECT o_orderpriority, count(*) AS cnt
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "agg_count_having": """
            SELECT user_id, event_type, count(*) AS cnt
            FROM events GROUP BY user_id, event_type
            HAVING count(*) > 1
            ORDER BY user_id, event_type
        """,
        "agg_two_level": """
            WITH monthly AS (
                SELECT user_id,
                       CAST(year(ts) AS INT) AS yr,
                       CAST(month(ts) AS INT) AS mo,
                       count(*) AS monthly_cnt
                FROM events GROUP BY 1, 2, 3
            )
            SELECT user_id,
                   min(monthly_cnt) AS min_monthly,
                   max(monthly_cnt) AS max_monthly,
                   round(avg(monthly_cnt), 6) AS avg_monthly,
                   count(*) AS months_active,
                   CAST(sum(monthly_cnt) AS BIGINT) AS total_events
            FROM monthly GROUP BY user_id ORDER BY user_id
        """,
        "agg_latest_per_key": """
            SELECT user_id,
                   event_id AS last_event_id,
                   event_type AS last_event_type,
                   value AS last_value,
                   ts AS last_ts
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "agg_time_window_rollup": """
            SELECT CAST(ts AS DATE) AS day,
                   event_type,
                   count(*) AS cnt,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE) AS sum_value,
                   round(CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE) / count(*), 6) AS avg_value,
                   count(DISTINCT user_id) AS distinct_users
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "agg_value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   count(*) AS cnt
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "dq_profile_orders": """
            WITH base AS (
                SELECT count(*) AS n FROM orders
            ), prof AS (
                SELECT 'o_orderkey' AS "column",
                       (SELECT n FROM base) AS n,
                       (SELECT CAST(count(*) FILTER (o_orderkey IS NULL)
                               AS BIGINT) FROM orders) AS nulls,
                       (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
                        FROM orders) AS n_distinct,
                       (SELECT CAST(min(floor(o_orderkey * 1e6 + 0.5))
                               AS BIGINT) FROM orders) AS min_num,
                       (SELECT CAST(max(floor(o_orderkey * 1e6 + 0.5))
                               AS BIGINT) FROM orders) AS max_num,
                       NULL AS min_str, NULL AS max_str
                UNION ALL
                SELECT 'o_custkey', (SELECT n FROM base),
                       (SELECT CAST(count(*) FILTER (o_custkey IS NULL)
                               AS BIGINT) FROM orders),
                       (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
                        FROM orders),
                       (SELECT CAST(min(floor(o_custkey * 1e6 + 0.5))
                               AS BIGINT) FROM orders),
                       (SELECT CAST(max(floor(o_custkey * 1e6 + 0.5))
                               AS BIGINT) FROM orders),
                       NULL, NULL
                UNION ALL
                SELECT 'o_totalprice', (SELECT n FROM base),
                       (SELECT CAST(count(*) FILTER (o_totalprice IS NULL)
                               AS BIGINT) FROM orders),
                       (SELECT CAST(count(DISTINCT o_totalprice) AS BIGINT)
                        FROM orders),
                       (SELECT CAST(min(floor(o_totalprice * 1e6 + 0.5))
                               AS BIGINT) FROM orders),
                       (SELECT CAST(max(floor(o_totalprice * 1e6 + 0.5))
                               AS BIGINT) FROM orders),
                       NULL, NULL
                UNION ALL
                SELECT 'o_orderstatus', (SELECT n FROM base),
                       (SELECT CAST(count(*) FILTER (o_orderstatus IS NULL)
                               AS BIGINT) FROM orders),
                       (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
                        FROM orders),
                       NULL, NULL,
                       (SELECT min(o_orderstatus) FROM orders),
                       (SELECT max(o_orderstatus) FROM orders)
                UNION ALL
                SELECT 'o_orderpriority', (SELECT n FROM base),
                       (SELECT CAST(count(*) FILTER (o_orderpriority IS NULL)
                               AS BIGINT) FROM orders),
                       (SELECT CAST(count(DISTINCT o_orderpriority)
                               AS BIGINT) FROM orders),
                       NULL, NULL,
                       (SELECT min(o_orderpriority) FROM orders),
                       (SELECT max(o_orderpriority) FROM orders)
            )
            SELECT "column", CAST(n AS BIGINT) AS n, nulls, n_distinct,
                   min_num, max_num, min_str, max_str
            FROM prof ORDER BY "column"
        """,
        "evt_funnel": """
            WITH r0 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ), r1 AS (
                SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN r0 ON e.user_id = r0.user_id
                WHERE e.event_type = 'click' AND e.ts > r0.t
                GROUP BY e.user_id
            ), r2 AS (
                SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN r1 ON e.user_id = r1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > r1.t
                GROUP BY e.user_id
            ), counts AS (
                SELECT 0 AS step_idx, 'view' AS step,
                       (SELECT CAST(count(*) AS BIGINT) FROM r0)
                           AS users_reached
                UNION ALL
                SELECT 1, 'click',
                       (SELECT CAST(count(*) AS BIGINT) FROM r1)
                UNION ALL
                SELECT 2, 'purchase',
                       (SELECT CAST(count(*) AS BIGINT) FROM r2)
            )
            SELECT CAST(step_idx AS INT) AS step_idx, step, users_reached,
                   CASE WHEN (SELECT users_reached FROM counts
                              WHERE step_idx = 0) > 0 THEN
                       CAST(users_reached * 1000000
                            // (SELECT users_reached FROM counts
                                WHERE step_idx = 0) AS BIGINT)
                   END AS conversion_micro
            FROM counts ORDER BY step_idx
        """,
        "evt_cohort_retention": """
            WITH first AS (
                SELECT user_id, min(CAST(ts AS DATE)) AS d0
                FROM events GROUP BY user_id
            ), active AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            ), j AS (
                SELECT DISTINCT a.user_id,
                       CAST(floor(datediff('day', DATE '2024-01-01',
                                           f.d0) / 7) AS INT)
                           AS cohort_week,
                       CAST(floor(datediff('day', f.d0, a.d) / 7) AS INT)
                           AS week_offset
                FROM active a JOIN first f ON a.user_id = f.user_id
            )
            SELECT cohort_week, week_offset,
                   CAST(count(*) AS BIGINT) AS users
            FROM j WHERE week_offset BETWEEN 0 AND 3
            GROUP BY cohort_week, week_offset
            ORDER BY cohort_week, week_offset
        """,
        "evt_transitions": """
            WITH pairs AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS to_type
                FROM events
            ), counts AS (
                SELECT from_type, to_type, count(*) AS cnt
                FROM pairs WHERE to_type IS NOT NULL
                GROUP BY from_type, to_type
            )
            SELECT from_type, to_type, CAST(cnt AS BIGINT) AS cnt,
                   CAST(cnt * 1000000 // sum(cnt) OVER (
                       PARTITION BY from_type) AS BIGINT) AS prob_micro
            FROM counts ORDER BY from_type, to_type
        """,
        "dq_constraints": """
            WITH checks AS (
                SELECT 'unique_o_orderkey' AS "check",
                       (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
                        FROM (SELECT count(*) AS c FROM orders
                              GROUP BY o_orderkey) WHERE c > 1)
                           AS violations
                UNION ALL
                SELECT 'non_null_o_custkey',
                       (SELECT CAST(count(*) FILTER (o_custkey IS NULL)
                               AS BIGINT) FROM orders)
                UNION ALL
                SELECT 'orders_custkey_in_customer',
                       (SELECT CAST(count(*) AS BIGINT) FROM orders o
                        WHERE NOT EXISTS (SELECT 1 FROM customer c
                                          WHERE c.c_custkey = o.o_custkey))
                UNION ALL
                SELECT 'positive_o_totalprice',
                       (SELECT CAST(count(*) FILTER (
                            NOT (o_totalprice > 0)) AS BIGINT) FROM orders)
                UNION ALL
                SELECT 'o_orderstatus_in_OFP',
                       (SELECT CAST(count(*) FILTER (
                            o_orderstatus NOT IN ('O','F','P'))
                               AS BIGINT) FROM orders)
            )
            SELECT "check", violations, violations = 0 AS passed
            FROM checks ORDER BY "check"
        """,
        # histogram quantiles: integer cum*100 >= q*n rank reads, no
        # division anywhere past the one floor(value*100) bucketing
        "agg_quantile_sketch": """
            WITH b AS (
                SELECT event_type,
                       CAST(floor(value * 100) AS BIGINT) AS bucket
                FROM events
            ), h AS (
                SELECT event_type, bucket, count(*) AS c
                FROM b GROUP BY 1, 2
            ), cw AS (
                SELECT event_type, bucket,
                       sum(c) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS cum,
                       sum(c) OVER (PARTITION BY event_type) AS n
                FROM h
            )
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n,
                   CAST(min(CASE WHEN cum * 100 >= 50 * n
                                 THEN bucket END) AS BIGINT) AS p50_centi,
                   CAST(min(CASE WHEN cum * 100 >= 95 * n
                                 THEN bucket END) AS BIGINT) AS p95_centi,
                   CAST(min(CASE WHEN cum * 100 >= 99 * n
                                 THEN bucket END) AS BIGINT) AS p99_centi
            FROM cw GROUP BY event_type ORDER BY event_type
        """,
        "agg_moving_daily_avg": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS day,
                       round(sum(CAST(value AS DECIMAL(15,2))), 3) AS day_total_dec
                FROM events GROUP BY 1
            )
            SELECT day, CAST(day_total_dec AS DOUBLE) AS day_total,
                   round(CAST(sum(day_total_dec) OVER w AS DOUBLE)
                         / count(*) OVER w, 6) AS avg_7d
            FROM daily
            WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                         AND CURRENT ROW)
            ORDER BY day
        """,
        "agg_status_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 3) AS DOUBLE) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        "agg_cube_rollup": """
            SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                       AS gid,
                   o_orderstatus, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 3)
                        AS DOUBLE) AS sum_total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY gid, o_orderstatus, o_orderpriority
        """,
        "agg_distinct_sketch": """
            WITH rows_ AS (
                SELECT event_type AS grp,
                       CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))
                            AS BIGINT) % 64 AS bucket,
                       CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),16,15))
                            AS BIGINT) % 1099511627776 AS w
                FROM events
            ), regs AS MATERIALIZED (
                SELECT grp, bucket,
                       max(41 - length(ltrim(bin(w), '0'))) AS reg
                FROM rows_ GROUP BY grp, bucket
            ), sk AS (
                SELECT grp,
                       CAST(count(*) AS INT) AS buckets_present,
                       bit_xor(bucket * 64 + reg) AS reg_xor,
                       CAST(sum(2199023255552 >> reg)
                            + (64 - count(*)) * 2199023255552
                            AS BIGINT) AS denom
                FROM regs GROUP BY grp
            ), ex AS (
                SELECT event_type AS grp,
                       count(DISTINCT user_id) AS exact_distinct
                FROM events GROUP BY 1
            )
            SELECT sk.grp, buckets_present, reg_xor, denom,
                   CAST(CAST('6389617079320712314880' AS HUGEINT) // denom
                        AS BIGINT) AS est_micro,
                   exact_distinct
            FROM sk JOIN ex USING (grp) ORDER BY grp
        """,
        "stream_distinct_sketch": """
            WITH rows_ AS (
                SELECT event_type AS grp,
                       CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))
                            AS BIGINT) % 64 AS bucket,
                       CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),16,15))
                            AS BIGINT) % 1099511627776 AS w
                FROM events
            ), regs AS MATERIALIZED (
                SELECT grp, bucket,
                       max(41 - length(ltrim(bin(w), '0'))) AS reg
                FROM rows_ GROUP BY grp, bucket
            )
            SELECT grp,
                   CAST(count(*) AS INT) AS buckets_present,
                   bit_xor(bucket * 64 + reg) AS reg_xor,
                   CAST(sum(2199023255552 >> reg)
                        + (64 - count(*)) * 2199023255552
                        AS BIGINT) AS denom,
                   CAST(CAST('6389617079320712314880' AS HUGEINT)
                        // (sum(2199023255552 >> reg)
                            + (64 - count(*)) * 2199023255552)
                        AS BIGINT) AS est_micro
            FROM regs GROUP BY grp ORDER BY grp
        """,
        "agg_count_min": """
            WITH toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '\\s+'),
                    x -> x <> '')) AS token
                FROM documents
            ), salts AS (SELECT unnest([0, 1, 2, 3]) AS r),
            cells AS (
                SELECT r,
                       CAST(('0x'||substr(md5(CAST(r AS VARCHAR)
                            || '|' || token), 1, 15)) AS BIGINT)
                            % 512 AS bucket,
                       count(*) AS cnt
                FROM toks, salts
                GROUP BY 1, 2
            ), top AS (
                SELECT token, count(*) AS exact_cnt
                FROM toks GROUP BY token
                ORDER BY exact_cnt DESC, token LIMIT 20
            ), probes AS (
                SELECT t.token, t.exact_cnt, s.r,
                       CAST(('0x'||substr(md5(CAST(s.r AS VARCHAR)
                            || '|' || t.token), 1, 15)) AS BIGINT)
                            % 512 AS bucket
                FROM top t, salts s
            )
            SELECT p.token, p.exact_cnt,
                   CAST(min(c.cnt) AS BIGINT) AS cms_estimate
            FROM probes p JOIN cells c
                ON p.r = c.r AND p.bucket = c.bucket
            GROUP BY 1, 2 ORDER BY exact_cnt DESC, token
        """,
        "agg_sketch_union": """
            WITH rows_ AS (
                SELECT source AS grp,
                       CAST(('0x'||substr(md5(text),1,15))
                            AS BIGINT) % 64 AS bucket,
                       CAST(('0x'||substr(md5(text),16,15))
                            AS BIGINT) % 1099511627776 AS w
                FROM documents
            ), regs AS MATERIALIZED (
                SELECT grp, bucket,
                       max(41 - length(ltrim(bin(w), '0'))) AS reg
                FROM rows_ GROUP BY grp, bucket
            ), allregs AS MATERIALIZED (
                SELECT grp, bucket, reg FROM regs
                UNION ALL
                SELECT '__all__' AS grp, bucket, max(reg) AS reg
                FROM regs GROUP BY bucket
            ), sk AS (
                SELECT grp,
                       CAST(count(*) AS INT) AS buckets_present,
                       bit_xor(bucket * 64 + reg) AS reg_xor,
                       CAST(sum(2199023255552 >> reg)
                            + (64 - count(*)) * 2199023255552
                            AS BIGINT) AS denom
                FROM allregs GROUP BY grp
            )
            SELECT grp, buckets_present, reg_xor, denom,
                   CAST(CAST('6389617079320712314880' AS HUGEINT) // denom
                        AS BIGINT) AS est_micro
            FROM sk ORDER BY grp
        """,
        "join_tagged_full_outer": """
            WITH order_stats AS (
                SELECT o_custkey, count(*) AS order_count,
                       CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 3) AS DOUBLE) AS total_spent
                FROM orders GROUP BY o_custkey
            )
            SELECT coalesce(c_custkey, o_custkey) AS custkey,
                   c_name AS name,
                   c_mktsegment AS mktsegment,
                   coalesce(order_count, 0) AS order_count,
                   coalesce(total_spent, 0.0) AS total_spent
            FROM customer FULL OUTER JOIN order_stats
              ON c_custkey = o_custkey
            ORDER BY custkey
        """,
        "join_broadcast_dim": """
            SELECT p_brand, s_name,
                   count(*) AS line_count,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))), 3) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY p_brand, s_name ORDER BY p_brand, s_name
        """,
        "join_semi_whitelist": """
            SELECT * FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey
        """,
        "join_anti_blocklist": """
            SELECT * FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_totalprice > 200000
            )
            ORDER BY c_custkey
        """,
        "join_multiway": """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                       * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 3) AS DOUBLE) AS revenue,
                   count(*) AS line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
        "join_point_lookup": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
            FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders WHERE o_totalprice > 350000
            )
            ORDER BY l_orderkey, l_linenumber
        """,
        # Spark expresses as-of via the merge-union window trick;
        # DuckDB's native ASOF JOIN is the independent oracle
        "join_asof": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ), s0 AS (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id, ts ORDER BY event_id DESC
                       ) AS rn
                FROM events WHERE event_type = 'signup'
            ), signups AS (
                SELECT user_id, ts, event_id, value FROM s0 WHERE rn = 1
            )
            SELECT c.event_id, c.user_id, c.ts,
                   s.event_id AS asof_event_id,
                   s.value AS asof_value
            FROM clicks c ASOF LEFT JOIN signups s
              ON c.user_id = s.user_id AND c.ts >= s.ts
            ORDER BY c.event_id
        """,
        "stream_asof": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click' AND user_id % 3 = 0
            ), s0 AS (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id, ts ORDER BY event_id DESC
                       ) AS rn
                FROM events WHERE event_type = 'signup' AND user_id % 3 = 0
            ), signups AS (
                SELECT user_id, ts, event_id, value FROM s0 WHERE rn = 1
            )
            SELECT c.event_id, c.user_id, c.ts,
                   s.event_id AS asof_event_id,
                   s.value AS asof_value
            FROM clicks c ASOF LEFT JOIN signups s
              ON c.user_id = s.user_id AND c.ts >= s.ts
            ORDER BY c.event_id
        """,
        # Spark buckets intervals by day into an equi-join + bounds
        # filter; the oracle is the plain inequality join
        "join_range_bucketed": """
            WITH campaigns AS (
                SELECT event_id AS campaign_id, ts AS start_ts,
                       ts + INTERVAL 3 DAY AS end_ts
                FROM events WHERE event_type = 'signup'
                ORDER BY ts, event_id LIMIT 20
            )
            SELECT campaign_id, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE)
                       AS sum_value
            FROM campaigns c JOIN events e
              ON e.ts >= c.start_ts AND e.ts < c.end_ts
            GROUP BY campaign_id ORDER BY campaign_id
        """,
        "filter_regex_scan": """
            SELECT * FROM documents
            WHERE regexp_matches(source, '^src1[0-9]$')
            ORDER BY doc_id
        """,
        "filter_text_grep": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE contains(text, 'data') ORDER BY doc_id
        """,
        "filter_category": """
            SELECT * FROM events
            WHERE event_type IN ('click', 'purchase') ORDER BY event_id
        """,
        "filter_classify": """
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   CASE WHEN c_acctbal < 0 THEN 'delinquent'
                        WHEN c_acctbal > 7500 THEN 'premium'
                        ELSE 'standard' END AS tier
            FROM customer ORDER BY c_custkey
        """,
        "filter_projection_rekey": """
            SELECT event_type || '#' || CAST(user_id AS VARCHAR) AS composite_key,
                   event_id, value
            FROM events ORDER BY event_id
        """,
        "filter_url_templates": """
            WITH urls AS (
                SELECT 'http://' || source || '.example.com' ||
                    CASE WHEN doc_id % 4 = 0
                             THEN '/article/' || CAST(doc_id AS VARCHAR)
                         WHEN doc_id % 4 = 1
                             THEN '/2024/' || CAST(doc_id % 12 + 1 AS VARCHAR)
                                  || '/post-' || CAST(doc_id AS VARCHAR)
                                  || '.html'
                         WHEN doc_id % 4 = 2
                             THEN '/p/' ||
                                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                         ELSE '/about' END AS url
                FROM documents
            ), shaped AS (
                SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                       regexp_replace(regexp_replace(
                           regexp_extract(url, '^[a-z]+://[^/]+(/.*)?$', 1),
                           '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g')
                           AS template,
                       url
                FROM urls
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_urls,
                   min(url) AS example_url
            FROM shaped GROUP BY host, template
            ORDER BY host, template
        """,
        "filter_blocklist": """
            SELECT * FROM documents
            WHERE source NOT IN ('src0', 'src1', 'src2')
            ORDER BY doc_id
        """,
        "filter_range_predicate": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                       * CAST(l_discount AS DECIMAL(4,2))), 3) AS DOUBLE) AS revenue,
                   count(*) AS matched_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '2024-01-01'
              AND l_shipdate < TIMESTAMP '2025-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06
              AND l_quantity < 24
        """,
        "win_topk_per_group": """
            SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
                SELECT l_orderkey, l_linenumber, l_extendedprice,
                       row_number() OVER (
                           PARTITION BY l_orderkey
                           ORDER BY l_extendedprice DESC, l_linenumber
                       ) AS rn
                FROM lineitem
            ) WHERE rn <= 3 ORDER BY l_orderkey, rn
        """,
        "win_secondary_sort_rank": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   rank() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS price_rank
            FROM orders ORDER BY o_custkey, price_rank, o_orderkey
        """,
        "win_first_row_per_key": """
            SELECT user_id, event_type, event_id, ts FROM (
                SELECT user_id, event_type, event_id, ts,
                       row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                       ) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id, event_type
        """,
        "win_segment_packing": """
            SELECT o_custkey, o_orderkey,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER w, 3)
                        AS DOUBLE) AS running_total,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER w * 100
                        AS BIGINT) // 50000000 AS INT) AS segment_id
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY o_custkey, o_orderkey
        """,
        "win_round_robin": """
            SELECT doc_id, lang,
                   CAST((row_number() OVER (
                       PARTITION BY lang ORDER BY doc_id
                   ) - 1) % 8 AS BIGINT) AS bucket
            FROM documents ORDER BY doc_id
        """,
        "win_paginate": """
            SELECT * FROM customer
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 20 OFFSET 40
        """,
        "skew_salted_count": """
            SELECT o_orderpriority, count(*) AS cnt
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "skew_salted_join": """
            SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment,
                   o_orderstatus
            FROM orders JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey
        """,
        "text_quality_buckets": """
            WITH q AS (
                SELECT lang,
                       round((
                           (CASE WHEN length(text) BETWEEN 50 AND 20000
                                 THEN 1.0 ELSE 0.3 END)
                         + (CASE WHEN round(length(regexp_replace(text,
                                     '[\\w\\s]', '', 'g'))
                                     / greatest(length(text), 1), 6) < 0.2
                                 THEN 1.0 ELSE 0.4 END)
                         + (CASE WHEN len(regexp_extract_all(lower(text),
                                     '\\b(?:the|and|of|to|a)\\b')) > 0
                                 THEN 1.0 ELSE 0.5 END)
                       ) / 3, 6) AS qv
                FROM documents
            )
            SELECT lang, round(qv, 2) AS q_bucket, count(*) AS cnt
            FROM q GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "setop_union_tagged": """
            SELECT o_orderkey, o_totalprice, 'open' AS src
            FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderkey, o_totalprice, 'filled' AS src
            FROM orders WHERE o_orderstatus = 'F'
            ORDER BY o_orderkey, src
        """,
        "setop_distinct": """
            SELECT DISTINCT o_custkey, o_orderpriority
            FROM orders ORDER BY o_custkey, o_orderpriority
        """,
        "setop_except": """
            SELECT c_custkey AS custkey FROM customer
            EXCEPT ALL
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE o_totalprice > 200000
            ORDER BY custkey
        """,
        "setop_intersect": """
            SELECT c_custkey AS custkey FROM customer
            INTERSECT
            SELECT o_custkey AS custkey FROM orders
            ORDER BY custkey
        """,
        "crawllist_generate": """
            WITH capped AS (
                SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderpriority ASC, o_totalprice DESC,
                                    o_orderkey ASC
                       ) AS host_rank
                FROM orders
                QUALIFY host_rank <= 5
            ),
            bucketed AS (
                SELECT *, o_custkey % 8 AS bucket FROM capped
            )
            SELECT o_custkey, o_orderkey, o_orderpriority,
                   round(o_totalprice, 3) AS o_totalprice, host_rank, bucket,
                   CAST(floor((row_number() OVER (
                       PARTITION BY bucket
                       ORDER BY o_custkey ASC, host_rank ASC, o_orderkey ASC
                   ) - 1) / 250) AS INT) AS segment_id
            FROM bucketed
            ORDER BY o_custkey, host_rank
        """,
        "crawldb_merge": _CRAWLDB_MERGE_SQL,
        "crawldb_incremental_merge": _CRAWLDB_MERGE_SQL,
        # full-fidelity merged record: replay the synthesis residues +
        # the reducer's latest-attempt-wins summary rules in SQL
        "crawldb_merge_full": """
            WITH st AS (
                SELECT user_id AS key, event_id AS eid,
                       1700000000000 + event_id AS attempt_time,
                       (event_id % 11 = 0) AS is_fail,
                       CASE WHEN event_id % 11 = 0 THEN NULL
                            WHEN event_id % 7 = 0 THEN 301
                            WHEN event_id % 5 = 0 THEN 404
                            ELSE 200 END AS http_result
                FROM events WHERE event_type IN ('click', 'purchase')
            ), st2 AS (
                SELECT *,
                       (NOT is_fail AND http_result BETWEEN 200 AND 299) AS is2,
                       (NOT is_fail AND http_result BETWEEN 300 AND 399) AS is3,
                       CASE WHEN NOT is_fail AND http_result BETWEEN 200 AND 299
                            THEN CASE WHEN eid % 3 = 0 THEN 'feed'
                                      ELSE 'html' END END AS parsed_as
                FROM st
            ), det AS (
                SELECT key, eid, attempt_time, is_fail, is2, is3,
                       (is2 AND parsed_as = 'html') AS ish,
                       CASE WHEN NOT is_fail THEN http_result END
                           AS detail_http_result,
                       CASE WHEN NOT is_fail THEN
                            CAST(eid % 223 + 1 AS VARCHAR) || '.'
                            || CAST(eid % 256 AS VARCHAR) || '.'
                            || CAST(eid * 7 % 256 AS VARCHAR) || '.'
                            || CAST(eid * 13 % 256 AS VARCHAR) END AS server_ip,
                       CASE WHEN NOT is_fail
                            THEN 1700000000000 + eid - eid % 3600 END
                           AS http_date,
                       CASE WHEN NOT is_fail
                            THEN 1700000000000 + eid - eid % 3600 - eid % 86400
                            END AS last_modified,
                       CASE WHEN NOT is_fail
                            THEN substr(md5(CAST(eid AS VARCHAR)), 1, 8) END
                           AS etag,
                       CASE WHEN is2 THEN CAST(eid % 9973 AS INT) END
                           AS content_len,
                       CASE WHEN is2 THEN
                            CASE WHEN parsed_as = 'feed'
                                 THEN 'application/atom+xml'
                                 ELSE 'text/html' END END AS mime_type,
                       CASE WHEN is2 THEN md5(CAST(eid AS VARCHAR)) END AS md5,
                       CASE WHEN is2
                            THEN (eid % 100000) * 2654435761 END AS text_simhash,
                       parsed_as AS detail_parsed_as,
                       CASE WHEN is2 THEN 'title-' || CAST(eid AS VARCHAR) END
                           AS title,
                       CASE WHEN is2 AND parsed_as = 'html'
                            THEN CAST(eid % 10 AS INT) END AS intra_domain_links,
                       CASE WHEN is2 AND parsed_as = 'html'
                            THEN CAST(eid % 7 AS INT) END AS intra_root_links,
                       CASE WHEN is2 AND parsed_as = 'html'
                            THEN CAST(eid % 13 AS INT) END AS inter_domain_links,
                       CASE WHEN is3
                            THEN 'http://redirect.example.com/'
                                 || CAST(eid AS VARCHAR) END
                           AS detail_redirect_url,
                       CASE WHEN is_fail THEN TRUE END AS fetch_failed,
                       CASE WHEN is_fail THEN 'IOException' END
                           AS failure_reason,
                       CASE WHEN is_fail
                            THEN 'detail-' || CAST(eid AS VARCHAR) END
                           AS failure_detail,
                       CASE WHEN is2 AND parsed_as = 'html' THEN
                            ['http://ext' || CAST((eid + i) % 50 AS VARCHAR)
                             || '.example.com/p' || CAST(i AS VARCHAR)
                             FOR i IN range(0, CAST(eid % 4 AS INT) + 1)]
                            END AS ext_hrefs
                FROM st2
            ), summary AS (
                SELECT key,
                       count(*) AS attempt_count,
                       max(attempt_time) AS latest_attempt,
                       arg_max(CASE WHEN NOT is_fail AND detail_http_result
                                         IS NOT NULL
                                    THEN detail_http_result END,
                               CASE WHEN NOT is_fail AND detail_http_result
                                         IS NOT NULL
                                    THEN attempt_time END) AS http_result,
                       max(CASE WHEN is2 THEN attempt_time END)
                           AS latest_crawl,
                       CAST(sum(CASE WHEN is2 THEN 1 ELSE 0 END) AS BIGINT)
                           AS crawl_count,
                       arg_max(CASE WHEN is2 THEN detail_parsed_as END,
                               CASE WHEN is2 THEN attempt_time END)
                           AS parsed_as,
                       arg_max(CASE WHEN is3 THEN detail_redirect_url END,
                               CASE WHEN is3 THEN attempt_time END)
                           AS redirect_url,
                       arg_max(CASE WHEN is2 THEN ext_hrefs END,
                               CASE WHEN is2 THEN attempt_time END)
                           AS ext_list
                FROM det GROUP BY key
            ), linksrc AS (
                SELECT user_id AS key, event_id AS eid,
                       (event_id % 3 = 0) AS is_internal,
                       CASE WHEN event_type = 'view' THEN
                            CASE WHEN event_id % 2 = 0 THEN 'html:a:nofollow'
                                 ELSE 'html:a' END
                            ELSE 'rss:link' END AS type_and_rel,
                       1700000000000 + event_id - 500 AS http_date
                FROM events WHERE event_type IN ('view', 'signup')
            ), linksum AS (
                SELECT key,
                       CAST(sum(CASE WHEN is_internal THEN 1 ELSE 0 END)
                            AS BIGINT) AS int_src_count,
                       CAST(sum(CASE WHEN is_internal THEN 0 ELSE 1 END)
                            AS BIGINT) AS ext_src_count,
                       min(http_date) AS earliest_date,
                       max(http_date) AS latest_date,
                       array_to_string(
                           list_sort(list_distinct(list(type_and_rel)))[1:5],
                           ',') AS type_and_rels
                FROM linksrc GROUP BY key
            ), keys AS (
                SELECT key FROM summary UNION SELECT key FROM linksum
            )
            SELECT k.key, d.attempt_time, d.detail_http_result, d.server_ip,
                   d.http_date, d.last_modified, d.etag, d.content_len,
                   d.mime_type, d.md5, d.text_simhash, d.detail_parsed_as,
                   d.title, d.intra_domain_links, d.intra_root_links,
                   d.inter_domain_links, d.detail_redirect_url,
                   d.fetch_failed, d.failure_reason, d.failure_detail,
                   s.attempt_count, s.latest_attempt, s.http_result,
                   s.latest_crawl, s.crawl_count, s.parsed_as, s.redirect_url,
                   CASE WHEN s.key IS NULL THEN ''
                        ELSE coalesce(array_to_string(
                            list_sort(list_distinct(s.ext_list))[1:100], ','),
                            '') END AS ext_urls,
                   CASE WHEN s.key IS NULL THEN NULL
                        ELSE coalesce(len(list_distinct(s.ext_list)) > 100,
                                      FALSE) END AS ext_urls_truncated,
                   l.int_src_count, l.ext_src_count, l.earliest_date,
                   l.latest_date,
                   CASE WHEN l.key IS NULL THEN ''
                        ELSE l.type_and_rels END AS type_and_rels
            FROM keys k
            LEFT JOIN summary s ON k.key = s.key
            LEFT JOIN linksum l ON k.key = l.key
            LEFT JOIN det d ON k.key = d.key
            ORDER BY k.key, d.attempt_time
        """,
        "crawldb_blekko_merge": """
            WITH db AS (
                SELECT doc_id,
                       'http://' || source || '.example.com/p/' || doc_id AS url
                FROM documents
            ), lines AS (
                SELECT url,
                       CASE WHEN doc_id % 7 = 0 THEN 'malformed junk'
                            ELSE 'rank=' || CAST(doc_id % 50 AS VARCHAR)
                                 || '.5 rank10=' || CAST(doc_id % 10 AS VARCHAR)
                                 || ' '
                                 || CASE WHEN doc_id % 3 = 0 THEN 'crawled'
                                         ELSE 'redir' END
                       END AS metadata
                FROM db WHERE doc_id % 4 <> 0
            ), meta AS (
                SELECT url,
                       CAST(regexp_extract(metadata,
                            '^rank=([0-9.]*)\\s*rank10=([0-9.]*) *([^\\s]*)', 1)
                            AS DOUBLE) AS rank,
                       CAST(regexp_extract(metadata,
                            '^rank=([0-9.]*)\\s*rank10=([0-9.]*) *([^\\s]*)', 2)
                            AS DOUBLE) AS rank10,
                       regexp_extract(metadata,
                            '^rank=([0-9.]*)\\s*rank10=([0-9.]*) *([^\\s]*)', 3)
                            AS status
                FROM lines
                WHERE regexp_extract(metadata,
                      '^rank=([0-9.]*)\\s*rank10=([0-9.]*) *([^\\s]*)', 1) <> ''
            )
            SELECT db.doc_id, db.url, meta.rank, meta.rank10, meta.status,
                   (meta.status = 'crawled') AS crawled
            FROM db LEFT JOIN meta ON db.url = meta.url
            ORDER BY db.doc_id
        """,
        # named crawler filters: full-match regex semantics
        # (regexp_full_match = Java matches()); boost SUMS matching
        # rules, rate/recrawl take the MIN
        "crawllist_filtered_generate": _FILTERED_GENERATE_SQL,
        "crawldb_snapshot_delta": """
            WITH sa AS (
                SELECT user_id, floor(value / 25) AS sig,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn,
                       count(*) OVER (PARTITION BY user_id) AS attempts
                FROM events
                WHERE event_type IN ('click', 'purchase')
                  AND ts < TIMESTAMP '2024-01-15'
            ),
            sb AS (
                SELECT user_id, floor(value / 25) AS sig,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn,
                       count(*) OVER (PARTITION BY user_id) AS attempts
                FROM events
                WHERE event_type IN ('click', 'purchase')
                  AND ts >= TIMESTAMP '2024-01-15'
            ),
            a AS (SELECT user_id, attempts AS attempts_a, sig AS sig_a
                  FROM sa WHERE rn = 1),
            b AS (SELECT user_id, attempts AS attempts_b, sig AS sig_b
                  FROM sb WHERE rn = 1)
            SELECT coalesce(a.user_id, b.user_id) AS user_id,
                   CASE WHEN a.user_id IS NULL THEN 'added'
                        WHEN b.user_id IS NULL THEN 'removed'
                        WHEN sig_a = sig_b THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   CAST(coalesce(attempts_a, 0) AS BIGINT) AS attempts_a,
                   CAST(coalesce(attempts_b, 0) AS BIGINT) AS attempts_b,
                   CAST(coalesce(attempts_b, 0) - coalesce(attempts_a, 0)
                        AS BIGINT) AS delta_attempts
            FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
            ORDER BY user_id
        """,
        # Cho & Garcia-Molina estimator: the ln argument is a ratio of
        # exact integers, the interval is ONE double expression rounded
        # once (floor(x*1e6+0.5)); division order mirrors the Spark
        # side exactly ((span/86400e6)/n, then /-ln(r))
        "crawllist_adaptive_recrawl": """
            WITH f AS (
                SELECT user_id, event_id, ts, floor(value / 25) AS sig
                FROM events WHERE event_type IN ('click', 'purchase')
            ),
            c AS (
                SELECT user_id, ts, sig,
                       lag(sig) OVER w AS pv,
                       lag(ts) OVER w AS pts
                FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            k AS (
                SELECT user_id,
                       CAST(count(*) AS BIGINT) AS fetches,
                       CAST(count(CASE WHEN pts IS NOT NULL THEN 1 END)
                            AS BIGINT) AS n_intervals,
                       CAST(coalesce(sum(CASE WHEN pts IS NOT NULL
                                              AND (sig IS DISTINCT FROM pv)
                                              THEN 1 ELSE 0 END), 0)
                            AS BIGINT) AS changes,
                       min(ts) AS first_ts, max(ts) AS last_ts
                FROM c GROUP BY user_id
            ),
            i AS (
                SELECT user_id, fetches, n_intervals, changes, last_ts,
                       CASE WHEN n_intervals = 0 THEN CAST(7000000 AS BIGINT)
                            WHEN changes = 0 THEN CAST(60000000 AS BIGINT)
                            ELSE greatest(CAST(1000000 AS BIGINT),
                                 least(CAST(60000000 AS BIGINT),
                                 CAST(floor(
                                     ((epoch_us(last_ts) - epoch_us(first_ts))
                                      / (86400.0 * 1e6) / n_intervals)
                                     / -ln((2 * (n_intervals - changes) + 1)
                                           / CAST(2 * n_intervals + 1 AS DOUBLE))
                                     * 1e6 + 0.5) AS BIGINT)))
                       END AS interval_days_micro
                FROM k
            )
            SELECT user_id, fetches, n_intervals, changes,
                   interval_days_micro,
                   last_ts + to_microseconds(interval_days_micro * CAST(86400 AS BIGINT))
                       AS next_due_ts
            FROM i ORDER BY user_id
        """,
        "crawllist_budget_plan": f"""
            WITH fg AS ({_FILTERED_GENERATE_SQL}),
            slotted AS (
                SELECT key, domain,
                       CAST(row_number() OVER (
                           PARTITION BY domain
                           ORDER BY pagerank_boost DESC NULLS LAST, key
                       ) AS INT) AS slot,
                       CAST(coalesce(crawl_rate_override, 500) AS BIGINT)
                           AS interval_ms
                FROM fg
            )
            SELECT domain,
                   CAST(count(CASE WHEN (slot - 1) * interval_ms < 3000
                                   THEN 1 END) AS BIGINT) AS planned,
                   CAST(count(CASE WHEN (slot - 1) * interval_ms >= 3000
                                   THEN 1 END) AS BIGINT) AS deferred,
                   CAST(3000 AS BIGINT) AS window_ms
            FROM slotted GROUP BY domain ORDER BY domain
        """,
        "crawllist_politeness": f"""
            WITH fg AS ({_FILTERED_GENERATE_SQL}),
            slotted AS (
                SELECT key, domain,
                       CAST(row_number() OVER (
                           PARTITION BY domain
                           ORDER BY pagerank_boost DESC NULLS LAST, key
                       ) AS INT) AS slot,
                       CAST(coalesce(crawl_rate_override, 500) AS BIGINT)
                           AS interval_ms
                FROM fg
            )
            SELECT key, domain, slot, interval_ms,
                   CAST((slot - 1) * interval_ms AS BIGINT)
                       AS scheduled_offset_ms
            FROM slotted ORDER BY key
        """,
        # every named platform rule recomputed in closed form:
        # calendar = 24 months back from 2012-06; wordpress pages
        # 1..paginations-1 with the page/2-skip arithmetic; blogger
        # YYYY_MM_01_archive.html; typepad trailing slash +
        # YYYY/MM/index.html; tumblr home + /archive; skip_if_dupe
        # false only for the first probe month
        "crawllist_blog_platform_urls": """
            WITH pf AS (
                SELECT CAST(doc_id % 5 AS INT) AS plat,
                       'http://blog' || CAST(doc_id AS VARCHAR) ||
                       CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN '.wordpress.com/'
                            WHEN 1 THEN '.blogspot.com/'
                            WHEN 2 THEN '.typepad.com/weblog'
                            WHEN 3 THEN '.tumblr.com/'
                            ELSE '.example.org/' END AS url,
                       'blog' || CAST(doc_id AS VARCHAR) ||
                       CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN '.wordpress.com'
                            WHEN 1 THEN '.blogspot.com'
                            WHEN 2 THEN '.typepad.com'
                            WHEN 3 THEN '.tumblr.com'
                            ELSE '.example.org' END AS host,
                       CAST(2009 + doc_id % 4 AS INT) AS yr,
                       (doc_id % 40) + 0.5 AS avg,
                       CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN 'wordpress' WHEN 1 THEN 'blogger'
                            WHEN 2 THEN 'typepad' WHEN 3 THEN 'tumblr'
                            ELSE 'other' END AS platform
                FROM documents
            ), slashed AS (
                SELECT *, CASE WHEN url LIKE '%/' THEN url
                               ELSE url || '/' END AS surl
                FROM pf
            ), dates AS (
                SELECT CAST(i AS INT) AS i,
                       CAST((2012*12 + 5 - i) // 12 AS INT) AS y,
                       CAST((2012*12 + 5 - i) % 12 + 1 AS INT) AS m
                FROM range(24) t(i)
            ), homes AS (
                SELECT url, platform,
                       CASE WHEN plat = 2 THEN surl ELSE url END
                           AS probe_url,
                       FALSE AS skip_if_dupe
                FROM slashed
            ), tumblr_archive AS (
                SELECT url, platform,
                       'http://' || host || '/archive' AS probe_url,
                       FALSE AS skip_if_dupe
                FROM slashed WHERE plat = 3
            ), wp AS (
                SELECT p.url, p.platform,
                       CASE WHEN pg.p = 1
                            THEN p.url || printf('%04d/%02d/', d.y, d.m)
                            ELSE p.url || printf('%04d/%02d/page/%d/',
                                                 d.y, d.m, pg.p + 1)
                       END AS probe_url,
                       d.i <> 0 AS skip_if_dupe
                FROM slashed p, dates d, range(1, 10) pg(p)
                WHERE p.plat = 0 AND p.yr >= 2011
                  AND pg.p < (CAST(ceil(p.avg) AS BIGINT) + 9) // 10
            ), blogger AS (
                SELECT p.url, p.platform,
                       p.url || printf('%04d_%02d_01_archive.html',
                                       d.y, d.m) AS probe_url,
                       d.i <> 0 AS skip_if_dupe
                FROM slashed p, dates d
                WHERE p.plat = 1 AND p.yr >= 2011
            ), typepad AS (
                SELECT p.url, p.platform,
                       p.surl || printf('%04d/%02d/index.html',
                                        d.y, d.m) AS probe_url,
                       d.i <> 0 AS skip_if_dupe
                FROM slashed p, dates d
                WHERE p.plat = 2 AND p.yr >= 2011
            )
            SELECT url, platform, probe_url, skip_if_dupe FROM (
                SELECT * FROM homes
                UNION ALL SELECT * FROM tumblr_archive
                UNION ALL SELECT * FROM wp
                UNION ALL SELECT * FROM blogger
                UNION ALL SELECT * FROM typepad
            ) ORDER BY url, probe_url, skip_if_dupe
        """,
        "crawllist_wikipedia_partition": """
            WITH pages AS (
                SELECT DISTINCT
                       'http://en.wikipedia.org/wiki/' || source || '_' || doc_id
                           AS url
                FROM documents
            ), ranks AS (
                SELECT 'http://en.wikipedia.org/wiki/' || source || '_' || doc_id
                           AS url,
                       (doc_id % 100) / 10.0 AS rank
                FROM documents WHERE doc_id % 3 <> 0
            )
            SELECT CAST(('0x' || substr(md5(p.url), 1, 15)) AS BIGINT) % 8
                       AS shard,
                   p.url,
                   coalesce(r.rank, 0.0) AS rank
            FROM pages p LEFT JOIN ranks r ON p.url = r.url
            ORDER BY shard, rank DESC, p.url
        """,
        "fn_idn_hosts": """
            SELECT doc_id,
                   CASE CAST(doc_id % 5 AS INT)
                       WHEN 0 THEN 'bücher.de'
                       WHEN 1 THEN 'münchen.de'
                       WHEN 2 THEN '寿司.jp'
                       WHEN 3 THEN 'królik.pl'
                       ELSE 'WWW.Émile.FR.' END AS host,
                   CASE CAST(doc_id % 5 AS INT)
                       WHEN 0 THEN 'xn--bcher-kva.de'
                       WHEN 1 THEN 'xn--mnchen-3ya.de'
                       WHEN 2 THEN 'xn--sprr0q.jp'
                       WHEN 3 THEN 'xn--krlik-1ta.pl'
                       ELSE 'www.xn--mile-9oa.fr' END AS ascii_host
            FROM documents ORDER BY doc_id
        """,
        "fn_url_canonicalize": """
            SELECT doc_id,
                   'http://www.' || lower(source) || '.example.com/Page/'
                       || doc_id || '?ID=' || doc_id AS canonical
            FROM documents ORDER BY doc_id
        """,
        "fn_url_root_domain": """
            SELECT doc_id,
                   source || '.co.uk' AS root_uk,
                   'example.com' AS root_com
            FROM documents ORDER BY doc_id
        """,
        "fn_ip_roundtrip": """
            SELECT c_custkey,
                   (c_custkey % 223 + 1) || '.' || (c_custkey % 256) || '.'
                       || (c_custkey * 7 % 256) || '.'
                       || (c_custkey * 13 % 256) AS ip,
                   (c_custkey % 223 + 1) * 16777216
                       + (c_custkey % 256) * 65536
                       + (c_custkey * 7 % 256) * 256
                       + (c_custkey * 13 % 256) AS ip_int,
                   (c_custkey % 223 + 1) || '.' || (c_custkey % 256) || '.'
                       || (c_custkey * 7 % 256) || '.'
                       || (c_custkey * 13 % 256) AS ip_back
            FROM customer ORDER BY c_custkey
        """,
        "fn_parse_headers": """
            SELECT o_orderkey, 'text/html' AS content_type,
                   o_orderkey AS content_length,
                   o_custkey AS max_age,
                   o_orderpriority AS x_priority
            FROM orders ORDER BY o_orderkey
        """,
        "fn_extract_links": """
            WITH links AS (
                SELECT doc_id, 'Doc ' || doc_id AS title,
                       'http://' || source || '.example.com/' || doc_id AS url,
                       'a' AS link_type,
                       'anchor ' || lang AS anchor
                FROM documents
                UNION ALL
                SELECT doc_id, 'Doc ' || doc_id AS title,
                       'http://frame.' || source || '.net' AS url,
                       'iframe' AS link_type,
                       '' AS anchor
                FROM documents
            )
            SELECT * FROM links ORDER BY doc_id, link_type, url
        """,
        "fn_extract_feeds": """
            WITH rss1 AS (
                SELECT doc_id,
                       'Post ' || doc_id AS title,
                       'http://' || source || '.example.com/p/' || doc_id AS url,
                       'g' || doc_id AS item_id,
                       'Mon, 01 Jan 2024' AS published,
                       CAST(NULL AS VARCHAR) AS author,
                       'd ' || lang AS summary
                FROM documents WHERE doc_id % 2 = 0
            ), rss2 AS (
                SELECT doc_id,
                       'Extra ' || doc_id,
                       'http://' || source || '.example.com/x/' || doc_id,
                       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
                FROM documents WHERE doc_id % 2 = 0
            ), atom AS (
                SELECT doc_id,
                       'Entry ' || doc_id,
                       'http://' || source || '.example.net/e/' || doc_id,
                       'a' || doc_id,
                       '2024-01-02T00:00:00Z',
                       'au ' || lang,
                       's ' || lang
                FROM documents WHERE doc_id % 2 = 1
            )
            SELECT * FROM (
                SELECT * FROM rss1
                UNION ALL SELECT * FROM rss2
                UNION ALL SELECT * FROM atom
            ) ORDER BY doc_id, url
        """,
        "fn_json_props": """
            SELECT CAST(props->>'$.k' AS INT) AS k, count(*) AS cnt,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE) AS sum_value
            FROM events GROUP BY k ORDER BY k
        """,
        "mm_content_stats": """
            SELECT doc_id AS media_id, 'fake/blob' AS mime,
                   CAST(length(text) AS BIGINT) AS content_len,
                   md5(text) AS content_md5
            FROM documents ORDER BY media_id
        """,
        # Spark decodes the UTF-8 payload bytes in mapInPandas; the
        # oracle recovers each byte's high nibble from the hex dump
        # (byte i -> hex chars 2i+1..2i+2, 1-based) and normalizes the
        # 16-bin count the same way (count / n_bytes, round 6)
        "mm_decode_fake": """
            WITH b AS (
                SELECT doc_id AS media_id,
                       hex(encode(text)) AS hx,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                FROM documents
            ), nibs AS (
                SELECT media_id, n_bytes,
                       unnest([strpos('0123456789ABCDEF',
                                      substr(hx, 2*i + 1, 1)) - 1
                               FOR i IN range(0, CAST(n_bytes AS INT))])
                           AS bin_idx
                FROM b
            ), counts AS (
                SELECT media_id, bin_idx, count(*) AS c
                FROM nibs GROUP BY media_id, bin_idx
            )
            SELECT b.media_id, CAST(t.bin_idx AS INT) AS bin_idx,
                   round(CASE WHEN b.n_bytes = 0 THEN 0.0
                         ELSE coalesce(c.c, 0) / CAST(b.n_bytes AS DOUBLE)
                         END, 6) AS bin_value,
                   b.n_bytes
            FROM b CROSS JOIN range(0, 16) t(bin_idx)
            LEFT JOIN counts c
              ON c.media_id = b.media_id AND c.bin_idx = t.bin_idx
            ORDER BY 1, 2
        """,
        "mm_frame_sample": """
            WITH expanded AS (
                SELECT doc_id AS media_id,
                       CAST(length(text) AS BIGINT) AS len,
                       unnest(generate_series(
                           1, CAST(ceil(length(text) / 64.0) AS BIGINT)
                       )) AS gs
                FROM documents WHERE length(text) > 0
            )
            SELECT media_id, CAST(gs - 1 AS INT) AS frame_idx,
                   least(64, len - (gs - 1) * 64) AS frame_len
            FROM expanded ORDER BY media_id, frame_idx
        """,
        # pixel p = (doc_id*3 + p*5) % 256 over w*h*3 RGB bytes,
        # w = 8 + doc_id % 9, h = 6 + doc_id % 7
        "mm_image_bands": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, generate_subscripts(l, 1) - 1 AS p,
                       unnest(l) AS v
                FROM (SELECT media_id, w,
                             [(media_id*3 + q*5) % 256
                              FOR q IN range(0, w*h*3)] AS l
                      FROM s)
            )
            SELECT media_id,
                   CAST(((p // 3) // w) // 4 AS INT) AS band,
                   CAST(p % 3 AS INT) AS channel,
                   CAST(count(*) AS INT) AS n,
                   CAST(sum(v) AS BIGINT) AS sum_v,
                   CAST(min(v) AS INT) AS min_v,
                   CAST(max(v) AS INT) AS max_v
            FROM px GROUP BY media_id, ((p // 3) // w) // 4, p % 3
            ORDER BY media_id, band, channel
        """,
        # dHash oracle: the sampled 9x8 luma grid recomputed
        # closed-form from the PPM generator (pixel p = (mid*3+p*5)
        # % 256), integer ITU luma, bits packed into two 32-bit
        # halves -- no engine touches the int64 sign bit
        "mm_image_dhash": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), grid AS (
                SELECT media_id, y.y AS y, x.x AS x,
                       ((y.y * h) // 8 * w + (x.x * w) // 9) * 3 AS b0,
                       ((y.y * h) // 8 * w + ((x.x + 1) * w) // 9) * 3 AS b1
                FROM s,
                     (SELECT unnest(range(0, 8)) AS y) y,
                     (SELECT unnest(range(0, 8)) AS x) x
            ), bits AS (
                SELECT media_id, y, x,
                       CASE WHEN
                           ((media_id*3 + b0*5) % 256 * 299
                            + (media_id*3 + (b0+1)*5) % 256 * 587
                            + (media_id*3 + (b0+2)*5) % 256 * 114) // 1000
                           <
                           ((media_id*3 + b1*5) % 256 * 299
                            + (media_id*3 + (b1+1)*5) % 256 * 587
                            + (media_id*3 + (b1+2)*5) % 256 * 114) // 1000
                       THEN 1 ELSE 0 END AS bit
                FROM grid
            ), hashes AS (
                SELECT media_id,
                       CAST(sum(CASE WHEN y < 4
                                THEN bit * (1 << (y*8 + x))
                                ELSE 0 END) AS BIGINT) AS dhash_hi,
                       CAST(sum(CASE WHEN y >= 4
                                THEN bit * (1 << ((y-4)*8 + x))
                                ELSE 0 END) AS BIGINT) AS dhash_lo
                FROM bits GROUP BY media_id
            )
            SELECT media_id, dhash_hi, dhash_lo FROM hashes
            ORDER BY media_id
        """,
        "mm_dhash_dup_groups": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), grid AS (
                SELECT media_id, y.y AS y, x.x AS x,
                       ((y.y * h) // 8 * w + (x.x * w) // 9) * 3 AS b0,
                       ((y.y * h) // 8 * w + ((x.x + 1) * w) // 9) * 3 AS b1
                FROM s,
                     (SELECT unnest(range(0, 8)) AS y) y,
                     (SELECT unnest(range(0, 8)) AS x) x
            ), bits AS (
                SELECT media_id, y, x,
                       CASE WHEN
                           ((media_id*3 + b0*5) % 256 * 299
                            + (media_id*3 + (b0+1)*5) % 256 * 587
                            + (media_id*3 + (b0+2)*5) % 256 * 114) // 1000
                           <
                           ((media_id*3 + b1*5) % 256 * 299
                            + (media_id*3 + (b1+1)*5) % 256 * 587
                            + (media_id*3 + (b1+2)*5) % 256 * 114) // 1000
                       THEN 1 ELSE 0 END AS bit
                FROM grid
            ), hashes AS (
                SELECT media_id,
                       CAST(sum(CASE WHEN y < 4
                                THEN bit * (1 << (y*8 + x))
                                ELSE 0 END) AS BIGINT) AS dhash_hi,
                       CAST(sum(CASE WHEN y >= 4
                                THEN bit * (1 << ((y-4)*8 + x))
                                ELSE 0 END) AS BIGINT) AS dhash_lo
                FROM bits GROUP BY media_id
            )
            SELECT dhash_hi, dhash_lo,
                   CAST(count(*) AS BIGINT) AS n_images,
                   CAST(min(media_id) AS BIGINT) AS min_media_id
            FROM hashes GROUP BY dhash_hi, dhash_lo
            HAVING count(*) >= 2
            ORDER BY n_images DESC, dhash_hi, dhash_lo, min_media_id
        """,
        # identical arithmetic to mm_decode_ppm (same pixel formula)
"mm_decode_bmp": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h,
                       [(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3)] AS l,
                       [p FOR p IN range(0, w*h*3)] AS idx
                FROM s
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 0]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 1]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 2]) AS BIGINT) AS sum_b,
                   CAST(list_min(l) AS INT) AS min_px,
                   CAST(list_max(l) AS INT) AS max_px
            FROM px ORDER BY media_id
        """,
        "mm_decode_ppm": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h,
                       [(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3)] AS l,
                       [p FOR p IN range(0, w*h*3)] AS idx
                FROM s
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 0]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 1]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 2]) AS BIGINT) AS sum_b,
                   CAST(list_min(l) AS INT) AS min_px,
                   CAST(list_max(l) AS INT) AS max_px
            FROM px ORDER BY media_id
        """,
        # JPEG synthesizer: every 8x8 block is flat with value
        # (id*7 + block_index*13) % 256 -- the DC-only path is exact,
        # so sums are 64 * sum(block values), min/max over blocks
        "mm_decode_jpeg": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 * (1 + doc_id % 3) AS w,
                       8 * (1 + doc_id % 2) AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h,
                       [(media_id*7 + i*13) % 256
                        FOR i IN range(0, (w//8)*(h//8))] AS blocks
                FROM s
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(64 * list_sum(blocks) AS BIGINT) AS sum_r,
                   CAST(64 * list_sum(blocks) AS BIGINT) AS sum_g,
                   CAST(64 * list_sum(blocks) AS BIGINT) AS sum_b,
                   CAST(list_min(blocks) AS INT) AS min_px,
                   CAST(list_max(blocks) AS INT) AS max_px
            FROM px ORDER BY media_id
        """,
        # color twin: per block i the flat YCbCr values are
        # closed-form; RGB comes from the SAME libjpeg fixed-point
        # integer transform the decoder runs (numerator clamped
        # BEFORE the 2^16 division so floor/truncate agree)
        # progressive twin: flat blocks, non-multiple-of-8 width --
        # the last block column contributes only its cropped pixels
        "mm_decode_jpeg_progressive": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 * (1 + doc_id % 3) + doc_id % 5 AS w,
                       8 * (1 + doc_id % 2) AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h, (w + 7) // 8 AS bw,
                       [(media_id*7 + i*13) % 256
                        FOR i IN range(0, ((w + 7)//8)*(h//8))] AS blocks
                FROM s
            ), sums AS (
                SELECT media_id, w, h, blocks,
                       list_sum(
                           [blocks[i+1] * 8 *
                            (CASE WHEN (i % bw) = bw - 1
                                  THEN w - 8 * (bw - 1) ELSE 8 END)
                            FOR i IN range(0, len(blocks))]) AS total
                FROM px
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(total AS BIGINT) AS sum_r,
                   CAST(total AS BIGINT) AS sum_g,
                   CAST(total AS BIGINT) AS sum_b,
                   CAST(list_min(blocks) AS INT) AS min_px,
                   CAST(list_max(blocks) AS INT) AS max_px
            FROM sums ORDER BY media_id
        """,
        "mm_decode_jpeg_color": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 * (1 + doc_id % 3) AS w,
                       8 * (1 + doc_id % 2) AS h
                FROM documents
            ), blocks AS (
                SELECT media_id, w, h,
                       [(media_id*7 + i*13) % 256
                        FOR i IN range(0, (w//8)*(h//8))] AS ys,
                       [(media_id*11 + i*19) % 256
                        FOR i IN range(0, (w//8)*(h//8))] AS cbs,
                       [(media_id*5 + i*23) % 256
                        FOR i IN range(0, (w//8)*(h//8))] AS crs
                FROM s
            ), rgb AS (
                SELECT media_id, w, h,
                       [least(greatest(ys[i]*65536
                              + 91881*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS rs,
                       [least(greatest(ys[i]*65536
                              - 22554*(cbs[i]-128)
                              - 46802*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS gs,
                       [least(greatest(ys[i]*65536
                              + 116130*(cbs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS bs
                FROM blocks
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(64 * list_sum(rs) AS BIGINT) AS sum_r,
                   CAST(64 * list_sum(gs) AS BIGINT) AS sum_g,
                   CAST(64 * list_sum(bs) AS BIGINT) AS sum_b,
                   CAST(least(list_min(rs), list_min(gs),
                              list_min(bs)) AS INT) AS min_px,
                   CAST(greatest(list_max(rs), list_max(gs),
                                 list_max(bs)) AS INT) AS max_px
            FROM rgb ORDER BY media_id
        """,
        # 4:2:0 twin: per luma block i (bw = w//8 blocks across, 2
        # rows) the shared chroma macroblock is
        # m = (i//bw // 2) * (bw//2) + (i%bw) // 2; every block is 64
        # pixels of one RGB triple via the same fixed-point transform
        # progressive color rides the 420 gate's closed-form model:
        # same synthesized content, same fixed-point RGB
        "mm_decode_jpeg_progressive_color": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       16 * (1 + doc_id % 2) AS w, 16 AS h
                FROM documents
            ), blk AS (
                SELECT media_id, w, h, w // 8 AS bw,
                       [(media_id*7 + i*13) % 256
                        FOR i IN range(0, (w//8) * 2)] AS ys,
                       [(media_id*11
                         + (((i // (w//8)) // 2) * (w//16)
                            + (i % (w//8)) // 2) * 19) % 256
                        FOR i IN range(0, (w//8) * 2)] AS cbs,
                       [(media_id*5
                         + (((i // (w//8)) // 2) * (w//16)
                            + (i % (w//8)) // 2) * 23) % 256
                        FOR i IN range(0, (w//8) * 2)] AS crs
                FROM s
            ), rgb AS (
                SELECT media_id, w, h,
                       [least(greatest(ys[i]*65536
                              + 91881*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS rs,
                       [least(greatest(ys[i]*65536
                              - 22554*(cbs[i]-128)
                              - 46802*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS gs,
                       [least(greatest(ys[i]*65536
                              + 116130*(cbs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS bs
                FROM blk
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(64 * list_sum(rs) AS BIGINT) AS sum_r,
                   CAST(64 * list_sum(gs) AS BIGINT) AS sum_g,
                   CAST(64 * list_sum(bs) AS BIGINT) AS sum_b,
                   CAST(least(list_min(rs), list_min(gs),
                              list_min(bs)) AS INT) AS min_px,
                   CAST(greatest(list_max(rs), list_max(gs),
                                 list_max(bs)) AS INT) AS max_px
            FROM rgb ORDER BY media_id
        """,
        "mm_decode_jpeg_420": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       16 * (1 + doc_id % 2) AS w, 16 AS h
                FROM documents
            ), blk AS (
                SELECT media_id, w, h, w // 8 AS bw,
                       [(media_id*7 + i*13) % 256
                        FOR i IN range(0, (w//8) * 2)] AS ys,
                       [(media_id*11
                         + (((i // (w//8)) // 2) * (w//16)
                            + (i % (w//8)) // 2) * 19) % 256
                        FOR i IN range(0, (w//8) * 2)] AS cbs,
                       [(media_id*5
                         + (((i // (w//8)) // 2) * (w//16)
                            + (i % (w//8)) // 2) * 23) % 256
                        FOR i IN range(0, (w//8) * 2)] AS crs
                FROM s
            ), rgb AS (
                SELECT media_id, w, h,
                       [least(greatest(ys[i]*65536
                              + 91881*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS rs,
                       [least(greatest(ys[i]*65536
                              - 22554*(cbs[i]-128)
                              - 46802*(crs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS gs,
                       [least(greatest(ys[i]*65536
                              + 116130*(cbs[i]-128) + 32768, 0),
                              16744447) // 65536
                        FOR i IN range(1, len(ys)+1)] AS bs
                FROM blk
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(64 * list_sum(rs) AS BIGINT) AS sum_r,
                   CAST(64 * list_sum(gs) AS BIGINT) AS sum_g,
                   CAST(64 * list_sum(bs) AS BIGINT) AS sum_b,
                   CAST(least(list_min(rs), list_min(gs),
                              list_min(bs)) AS INT) AS min_px,
                   CAST(greatest(list_max(rs), list_max(gs),
                                 list_max(bs)) AS INT) AS max_px
            FROM rgb ORDER BY media_id
        """,
        # GIF is palette-indexed: w*h single-channel values expanded
        # to gray RGB, so the three channel sums are equal and the
        # closed-form runs over w*h (not w*h*3) positions
        # the decoded body must equal the utf-8 bytes of text exactly
        # (strlen = byte length; md5 hashes utf8) whether it traveled
        # chunked (even ids) or identity (odd)
        "source_warc_dechunk": """
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                        AS INT) AS was_chunked,
                   CAST(strlen(text) AS BIGINT) AS body_bytes,
                   md5(text) AS body_md5
            FROM documents ORDER BY doc_id
        """,
        "text_temperature_mixture": """
            WITH c AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY lang
            ), w AS (
                SELECT lang, n_docs,
                       CAST(floor(sqrt(n_docs) * 1e6 + 0.5) AS BIGINT)
                           AS wq
                FROM c
            ), t AS (SELECT sum(wq) AS tw FROM w)
            SELECT lang, n_docs,
                   CAST(wq * 1000000 // (SELECT tw FROM t) AS BIGINT)
                       AS share_ppm,
                   CAST(10000 * wq // (SELECT tw FROM t) AS BIGINT)
                       AS planned_docs
            FROM w ORDER BY lang
        """,
        # full-mirror oracle: same bigram elements, md5 order, two-
        # phase min-k collapses to one window at oracle scale; the
        # 8-hex-digit -> integer conversion is a positional list_sum
        # (DuckDB lacks a hex-string cast)
        "agg_kmv_overlap": """
            WITH t AS (
                SELECT source, list_filter(regexp_split_to_array(
                           lower(trim(text)), '\\s+'),
                           w -> w <> '') AS toks
                FROM documents
            ), e AS (
                SELECT DISTINCT source,
                       toks[i] || ' ' || toks[i+1] AS w
                FROM (SELECT source, toks,
                             unnest(range(1, len(toks))) AS i FROM t)
            ), sk0 AS (
                SELECT source, md5(w) AS h,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY md5(w)) AS r
                FROM e
            ), ske AS (SELECT * FROM sk0 WHERE r <= 128),
            est AS (
                SELECT source,
                       CASE WHEN max(r) < 128 THEN CAST(max(r) AS BIGINT)
                            ELSE CAST((127 * 4294967296) //
                                (list_sum([(strpos('0123456789abcdef',
                                     substr(max(CASE WHEN r = 128
                                                THEN h END), i, 1)) - 1)
                                     * (CAST(1 AS BIGINT)
                                        << (4 * (8 - i)))
                                  FOR i IN range(1, 9)]) + 1)
                                AS BIGINT)
                       END AS est_distinct
                FROM ske GROUP BY source
            ), pg AS (
                SELECT 'src' || CAST(i AS VARCHAR) AS source_a,
                       'src' || CAST(i + 1 AS VARCHAR) AS source_b
                FROM (SELECT unnest(range(0, 9)) AS i)
            ), uh AS (
                SELECT pg.source_a, pg.source_b, s.h
                FROM pg JOIN ske s ON s.source = pg.source_a
                UNION
                SELECT pg.source_a, pg.source_b, s.h
                FROM pg JOIN ske s ON s.source = pg.source_b
            ), usk AS (
                SELECT * FROM (
                    SELECT source_a, source_b, h,
                           row_number() OVER (
                               PARTITION BY source_a, source_b
                               ORDER BY h) AS r
                    FROM uh) WHERE r <= 128
            ), un AS (
                SELECT source_a, source_b, count(*) AS n_union
                FROM usk GROUP BY 1, 2
            ), bo AS (
                SELECT u.source_a, u.source_b, count(*) AS n_both
                FROM usk u
                WHERE EXISTS (SELECT 1 FROM ske x
                              WHERE x.source = u.source_a AND x.h = u.h)
                  AND EXISTS (SELECT 1 FROM ske y
                              WHERE y.source = u.source_b AND y.h = u.h)
                GROUP BY 1, 2
            ), inter AS (
                SELECT pg.source_a, pg.source_b, count(*) AS n_inter
                FROM pg JOIN e a ON a.source = pg.source_a
                WHERE EXISTS (SELECT 1 FROM e b
                              WHERE b.source = pg.source_b
                                AND b.w = a.w)
                GROUP BY 1, 2
            ), sizes AS (
                SELECT source, count(*) AS n FROM e GROUP BY 1
            )
            SELECT pg.source_a, pg.source_b,
                   ea.est_distinct AS est_distinct_a,
                   eb.est_distinct AS est_distinct_b,
                   CAST(COALESCE(bo.n_both, 0) * 1000000 // un.n_union
                        AS BIGINT) AS est_jaccard_micro,
                   CAST(COALESCE(inter.n_inter, 0) * 1000000 //
                        (sa.n + sb.n - COALESCE(inter.n_inter, 0))
                        AS BIGINT) AS exact_jaccard_micro
            FROM pg
            JOIN est ea ON ea.source = pg.source_a
            JOIN est eb ON eb.source = pg.source_b
            LEFT JOIN bo ON bo.source_a = pg.source_a
                        AND bo.source_b = pg.source_b
            JOIN un ON un.source_a = pg.source_a
                   AND un.source_b = pg.source_b
            LEFT JOIN inter ON inter.source_a = pg.source_a
                           AND inter.source_b = pg.source_b
            JOIN sizes sa ON sa.source = pg.source_a
            JOIN sizes sb ON sb.source = pg.source_b
            ORDER BY pg.source_a, pg.source_b
        """,
        # synth params are closed-form: qname h(id%50), id%3 CNAME
        # hops, A = 10.0.0.0 | id%65536, ttls ascend from 60+id%120
        "fn_dns_wire_parse": """
            SELECT doc_id AS media_id,
                   'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
                       AS qname,
                   CAST(doc_id % 3 + 1 AS INT) AS n_answers,
                   CAST(doc_id % 3 AS INT) AS cname_hops,
                   CAST(167772160 + doc_id % 65536 AS BIGINT)
                       AS a_address,
                   CAST(60 + doc_id % 120 AS BIGINT) AS min_ttl
            FROM documents ORDER BY doc_id
        """,
        # identical to the batch tar oracle: the streaming path must
        # produce row-identical manifests
        "stream_tar_manifest": """
            WITH m AS (
                SELECT doc_id AS media_id, k,
                       'shard/' || CAST(doc_id AS VARCHAR) || '/' ||
                           CASE k WHEN 0 THEN 'a.txt'
                                  WHEN 1 THEN 'b.txt'
                                  ELSE 'c.bin' END AS name,
                       repeat('doc-' || CAST(doc_id AS VARCHAR) || '-'
                              || CAST(k AS VARCHAR) || ';',
                              CAST(3 + (doc_id + k) % 5 AS INT))
                           AS content
                FROM documents, (SELECT unnest([0, 1, 2]) AS k)
            )
            SELECT media_id, name, CAST(-1 AS INT) AS method,
                   CAST(length(content) AS BIGINT) AS size,
                   md5(content) AS content_md5
            FROM m ORDER BY media_id, name
        """,
        # cue k of media id runs 1500+((id+k)%5)*250 ms with 100 ms
        # gaps, starting at (id%7) seconds
        "source_srt_cues": """
            WITH p AS (
                SELECT doc_id AS media_id, 2 + doc_id % 4 AS n
                FROM documents
            )
            SELECT media_id, CAST(n AS INT) AS n_cues,
                   CAST(list_sum(
                       [1500 + ((media_id + k) % 5) * 250
                        FOR k IN range(0, n)]) AS BIGINT)
                       AS total_cue_ms,
                   CAST(list_sum(
                       [1500 + ((media_id + k) % 5) * 250
                        FOR k IN range(0, n)])
                        + (n - 1) * 100 AS BIGINT) AS span_ms,
                   'cue-' || CAST(media_id AS VARCHAR) || '-0'
                       AS first_text
            FROM p ORDER BY media_id
        """,
        "source_vtt_cues": """
            -- identical timing closed forms to source_srt_cues: the
            -- WebVTT grammar differs, the cue content does not
            WITH p AS (
                SELECT doc_id AS media_id, 2 + doc_id % 4 AS n
                FROM documents
            )
            SELECT media_id, CAST(n AS INT) AS n_cues,
                   CAST(list_sum(
                       [1500 + ((media_id + k) % 5) * 250
                        FOR k IN range(0, n)]) AS BIGINT)
                       AS total_cue_ms,
                   CAST(list_sum(
                       [1500 + ((media_id + k) % 5) * 250
                        FOR k IN range(0, n)])
                        + (n - 1) * 100 AS BIGINT) AS span_ms,
                   'cue-' || CAST(media_id AS VARCHAR) || '-0'
                       AS first_text
            FROM p ORDER BY media_id
        """,
        "source_hls_manifest": """
            WITH p AS (
                SELECT doc_id AS media_id, 3 + doc_id % 4 AS n
                FROM documents
            )
            SELECT media_id, CAST(n AS INT) AS n_segments,
                   CAST(4 + media_id % 3 AS INT) AS target_duration,
                   CAST(media_id % 100 AS INT) AS media_sequence,
                   CAST(1 AS INT) AS ended,
                   CAST(list_sum(
                       [(2 + (media_id + k) % 3) * 1000
                            + ((media_id + k) % 10) * 100
                        FOR k IN range(0, n)]) AS BIGINT) AS total_ms,
                   'seg-' || CAST(media_id AS VARCHAR) || '-0.m4s'
                       AS first_uri
            FROM p ORDER BY media_id
        """,
        # member contents are closed-form marker strings; DuckDB's
        # md5() over the same constructed text mirrors the decoded-
        # payload digest
        "source_tar_members": """
            WITH m AS (
                SELECT doc_id AS media_id, k,
                       'shard/' || CAST(doc_id AS VARCHAR) || '/' ||
                           CASE k WHEN 0 THEN 'a.txt'
                                  WHEN 1 THEN 'b.txt'
                                  ELSE 'c.bin' END AS name,
                       repeat('doc-' || CAST(doc_id AS VARCHAR) || '-'
                              || CAST(k AS VARCHAR) || ';',
                              CAST(3 + (doc_id + k) % 5 AS INT))
                           AS content
                FROM documents, (SELECT unnest([0, 1, 2]) AS k)
            )
            SELECT media_id, name, CAST(-1 AS INT) AS method,
                   CAST(length(content) AS BIGINT) AS size,
                   md5(content) AS content_md5
            FROM m ORDER BY media_id, name
        """,
        "source_zip_extract": """
            WITH m AS (
                SELECT doc_id AS media_id, k,
                       'z/' || CAST(doc_id AS VARCHAR) || '/' ||
                           CASE k WHEN 0 THEN 'a.txt'
                                  ELSE 'b.txt' END AS name,
                       CASE k WHEN 0 THEN 0 ELSE 8 END AS method,
                       repeat('doc-' || CAST(doc_id AS VARCHAR) || '-'
                              || CAST(k AS VARCHAR) || ';',
                              CAST(3 + (doc_id + k) % 5 AS INT))
                           AS content
                FROM documents, (SELECT unnest([0, 1]) AS k)
            )
            SELECT media_id, name, CAST(method AS INT) AS method,
                   CAST(length(content) AS BIGINT) AS size,
                   md5(content) AS content_md5
            FROM m ORDER BY media_id, name
        """,
        # same md5 ring on both engines; clockwise successor via
        # min_by over ring_pos >= md5(host), wrap to the ring minimum
        "layout_consistent_hash": """
            WITH k AS (
                SELECT DISTINCT
                       'h' || CAST(doc_id % 200 AS VARCHAR) AS host
                FROM documents
            ), ring AS (
                SELECT 'w' || CAST(w AS VARCHAR) AS worker,
                       md5('w' || CAST(w AS VARCHAR) || '#'
                           || CAST(v AS VARCHAR)) AS ring_pos
                FROM (SELECT unnest(range(0, 8)) AS w),
                     (SELECT unnest(range(0, 16)) AS v)
            ), cw AS (
                SELECT k.host, min_by(r.worker, r.ring_pos) AS worker
                FROM k JOIN ring r ON r.ring_pos >= md5(k.host)
                GROUP BY k.host
            ), wrap AS (
                SELECT min_by(worker, ring_pos) AS w FROM ring
            )
            SELECT k.host,
                   COALESCE(cw.worker, (SELECT w FROM wrap)) AS worker
            FROM k LEFT JOIN cw USING (host) ORDER BY host
        """,
        # Morton interleave recomputed bit-by-bit: x bits at even
        # positions, y bits at odd (layout.zorder_key convention)
        "layout_zorder": """
            WITH s AS (
                SELECT event_id,
                       CAST(user_id % 65536 AS BIGINT) AS dim_x,
                       CAST((event_id * 40503) % 65536 AS BIGINT) AS dim_y
                FROM events
            ), z AS (
                SELECT event_id, dim_x, dim_y,
                       CAST(list_sum(
                           [((dim_x >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
                            FOR i IN range(0, 16)])
                          + list_sum(
                           [((dim_y >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
                            FOR i IN range(0, 16)]) AS BIGINT) AS zkey
                FROM s
            )
            SELECT event_id, dim_x, dim_y, zkey,
                   CAST(zkey >> 24 AS INT) AS file_bucket
            FROM z ORDER BY event_id
        """,
        # running-sum binning: bin = exclusive prefix sum // target,
        # windowed per table partition
        "layout_compaction_bins": """
            WITH l AS (
                SELECT source AS prefix,
                       'part-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                           AS path,
                       CAST(4096 + (doc_id % 13) * 512 AS BIGINT)
                           AS size_bytes
                FROM documents
            ), p AS (
                SELECT prefix, path, size_bytes,
                       CAST(COALESCE(SUM(size_bytes) OVER (
                                PARTITION BY prefix ORDER BY path
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                            // 32768 AS BIGINT) AS bin
                FROM l
            )
            SELECT prefix, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes
            FROM p GROUP BY prefix, bin ORDER BY prefix, bin
        """,
        # the KN probability expression tree mirrors the Spark one
        # op-for-op (only IEEE +,-,*,/ and max over exact integers and
        # the exact literal 0.75), so the double is bit-identical;
        # ln applies to the quantized INTEGER only (backoff discipline)
        "text_kneser_ney_lm": """
            WITH t AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                           lower(trim(text)), '\\s+'),
                           w -> w <> '') AS toks
                FROM documents
            ), tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
            hd AS (SELECT * FROM t WHERE doc_id % 2 <> 0),
            tr_tri0 AS (
                SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS tri, count(*) AS c123
                FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                      FROM tr)
                GROUP BY tri
            ), tri_t AS (
                SELECT tri, c123,
                       string_split(tri, ' ')[1] AS w1,
                       string_split(tri, ' ')[2] AS w2,
                       string_split(tri, ' ')[3] AS w3
                FROM tr_tri0
            ), ctx12 AS (
                SELECT w1, w2, sum(c123) AS c12, count(*) AS n1p12
                FROM tri_t GROUP BY w1, w2
            ), mid_num AS (
                SELECT w2, w3, count(DISTINCT w1) AS n1p_vw
                FROM tri_t GROUP BY w2, w3
            ), mid_den AS (
                SELECT w2, count(*) AS n1p_mid,
                       count(DISTINCT w3) AS n1p_vdot
                FROM tri_t GROUP BY w2
            ), bg_types AS (
                SELECT DISTINCT toks[i] AS wp, toks[i+1] AS w
                FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                      FROM tr)
            ), uni_cont AS (
                SELECT w, count(*) AS n1p_dotw FROM bg_types GROUP BY w
            ), tot AS (
                SELECT (SELECT count(*) FROM bg_types) AS n1pdd,
                       (SELECT count(DISTINCT w)
                        FROM (SELECT unnest(toks) AS w FROM tr)) AS vv
            ), pos AS (
                SELECT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS tri
                FROM (SELECT doc_id, toks,
                             unnest(range(1, len(toks) - 1)) AS i
                      FROM hd)
            ), need AS (
                SELECT tri,
                       string_split(tri, ' ')[1] AS w1,
                       string_split(tri, ' ')[2] AS w2,
                       string_split(tri, ' ')[3] AS w3
                FROM (SELECT DISTINCT tri FROM pos)
            ), pcalc AS (
                SELECT n.tri,
                       (COALESCE(u.n1p_dotw, 0) + 1)
                           / ((SELECT n1pdd FROM tot)
                              + (SELECT vv FROM tot) + 1) AS p1,
                       m.n1p_mid, m.n1p_vdot, mn.n1p_vw,
                       c.c12, c.n1p12, tc.c123
                FROM need n
                LEFT JOIN tr_tri0 tc ON n.tri = tc.tri
                LEFT JOIN ctx12 c ON n.w1 = c.w1 AND n.w2 = c.w2
                LEFT JOIN mid_num mn ON n.w2 = mn.w2 AND n.w3 = mn.w3
                LEFT JOIN mid_den m ON n.w2 = m.w2
                LEFT JOIN uni_cont u ON n.w3 = u.w
            ), p2calc AS (
                SELECT tri, c12, n1p12, c123,
                       CASE WHEN n1p_mid IS NOT NULL THEN
                           (greatest(COALESCE(n1p_vw, 0) - 0.75, 0.0)
                               / n1p_mid)
                           + (((0.75 * n1p_vdot) / n1p_mid) * p1)
                       ELSE p1 END AS p2
                FROM pcalc
            ), p3calc AS (
                SELECT tri,
                       CASE WHEN c12 IS NOT NULL THEN
                           (greatest(COALESCE(c123, 0) - 0.75, 0.0)
                               / c12)
                           + (((0.75 * n1p12) / c12) * p2)
                       ELSE p2 END AS p3
                FROM p2calc
            ), sc AS (
                SELECT tri,
                       CAST(floor(ln(greatest(CAST(floor(
                                p3 * 1e9 + 0.5) AS BIGINT), 1))
                            * 1e6 + 0.5) AS BIGINT)
                           - 20723266 AS s_micro
                FROM p3calc
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
                   CAST(-sum(s_micro) AS BIGINT) AS neg_logprob_micro,
                   CAST((-sum(s_micro)) // count(*) AS BIGINT)
                       AS avg_surprisal_micro
            FROM pos JOIN sc USING (tri)
            GROUP BY doc_id ORDER BY doc_id
        """,
        # golden tables derived by exhaustive enumeration (verified
        # DP==brute-force in tests/test_tokenizers.py) -- the
        # URL-canonicalization golden-table discipline
        "text_wordpiece_encode": """
            WITH t(idx, word, pieces, n_pieces, is_unk) AS (VALUES
                (0, 'the', 'the', 1, 0),
                (1, 'thing', 'th ##ing', 2, 0),
                (2, 'running', 'r ##u ##n ##n ##ing', 5, 0),
                (3, 'under', 'un ##d ##er', 3, 0),
                (4, 'tested', 't ##e ##st ##ed', 4, 0),
                (5, 'stable', 's ##t ##a ##b ##le', 5, 0),
                (6, 'thunder', 'th ##u ##n ##d ##er', 5, 0),
                (7, 'ingest', 'i ##n ##g ##e ##st', 5, 0),
                (8, 'hello', 'h ##e ##l ##l ##o', 5, 0),
                (9, 'big', 'b ##i ##g', 3, 0),
                (10, 'dog', 'd ##o ##g', 3, 0),
                (11, 'xyz', '[UNK]', 1, 1))
            SELECT doc_id, word, pieces,
                   CAST(n_pieces AS INT) AS n_pieces,
                   CAST(is_unk AS INT) AS is_unk
            FROM documents JOIN t ON CAST(doc_id % 12 AS INT) = idx
            ORDER BY doc_id
        """,
        # golden coefficients = piece usage per fixture word in the
        # converged hard-EM segmentation (derived offline, verified
        # N-stable in tests); frequencies stay data-dependent
        "text_unigram_train": """
            WITH freq AS (
                SELECT CAST(doc_id % 12 AS INT) AS k,
                       CAST(count(*) AS BIGINT) AS f
                FROM documents GROUP BY 1
            ), co(piece, k, coeff) AS (VALUES
                ('a',5,1),('b',5,1),('b',9,1),('d',10,1),
                ('der',3,1),('der',6,1),
                ('e',4,1),('e',5,1),('e',7,1),('ed',4,1),
                ('g',9,1),('g',10,1),('hello',8,1),('i',9,1),
                ('ing',1,1),('ing',7,1),('l',5,1),('ning',2,1),
                ('o',10,1),('run',2,1),('st',4,1),('st',5,1),
                ('st',7,1),('t',4,1),('th',1,1),('th',6,1),
                ('the',0,1),('un',3,1),('un',6,1))
            SELECT co.piece,
                   CAST(SUM(co.coeff * freq.f) AS BIGINT) AS count
            FROM co JOIN freq ON co.k = freq.k
            GROUP BY co.piece ORDER BY co.piece
        """,
        "text_tokenize_corpus": """
            WITH t(idx, n_pieces, is_unk) AS (VALUES
                (0, 1, 0), (1, 2, 0), (2, 5, 0), (3, 3, 0),
                (4, 4, 0), (5, 5, 0), (6, 5, 0), (7, 5, 0),
                (8, 5, 0), (9, 3, 0), (10, 3, 0), (11, 1, 1))
            SELECT d.doc_id,
                   CAST(2 AS BIGINT) AS n_words,
                   CAST(a.n_pieces + b.n_pieces AS BIGINT) AS n_tokens,
                   CAST(a.is_unk + b.is_unk AS BIGINT) AS n_unk_words
            FROM documents d
            JOIN t a ON CAST(d.doc_id % 12 AS INT) = a.idx
            JOIN t b ON CAST((d.doc_id + 5) % 12 AS INT) = b.idx
            ORDER BY d.doc_id
        """,
        "text_unigram_encode": """
            WITH t(idx, word, pieces, n_pieces, score_micro) AS (VALUES
                (0, 'the', 'the', 1, -7000000),
                (1, 'thing', 'th ing', 2, -12500000),
                (2, 'running', 'run ning', 2, -17000000),
                (3, 'under', 'un der', 2, -14700000),
                (4, 'tested', 't e st ed', 4, -22400000),
                (5, 'stable', 'st a b l e', 5, -26300000),
                (6, 'thunder', 'th un der', 3, -20700000),
                (7, 'ingest', 'ing e st', 3, -17800000),
                (8, 'hello', 'hello', 1, -12000000),
                (9, 'big', 'b i g', 3, -15000000),
                (10, 'dog', 'd o g', 3, -15000000),
                (11, 'xyz', '[UNK]', 1, 0))
            SELECT doc_id, word, pieces,
                   CAST(n_pieces AS INT) AS n_pieces,
                   CAST(score_micro AS BIGINT) AS score_micro
            FROM documents JOIN t ON CAST(doc_id % 12 AS INT) = idx
            ORDER BY doc_id
        """,
        # closed-form verdict table (rules are fixed per host parity;
        # see _robots_rfc9309_gate): even hosts disallow doc%5 in
        # {1 /private/data, 3 /files/a.zip}; odd hosts add a tying
        # Allow:/private* (tie -> allow) and Disallow:/files* (kills
        # doc%5=4 too)
        "robots_rfc9309_match": """
            SELECT doc_id,
                   'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
                   CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN '/index.html'
                        WHEN 1 THEN '/private/data'
                        WHEN 2 THEN '/private/pub'
                        WHEN 3 THEN '/files/a.zip'
                        ELSE '/files/a.zip.txt' END AS path,
                   CASE WHEN doc_id % 2 = 0
                        THEN doc_id % 5 NOT IN (1, 3)
                        ELSE doc_id % 5 NOT IN (3, 4) END AS allowed
            FROM documents ORDER BY doc_id
        """,
        # the oracle matches by range containment + longest prefix;
        # the Spark plan decomposes into per-length equi-joins --
        # identical semantics, different physical shape
        "filter_cidr_match": """
            WITH e AS (
                SELECT event_id,
                       CAST(167772160 + (event_id * 7919) % 140000
                            AS BIGINT) AS ip
                FROM events
            ), b AS (
                SELECT CAST(167772160 + r_regionkey * 32768 AS BIGINT)
                           AS base,
                       CAST(18 + r_regionkey % 2 AS INT) AS len
                FROM region
                UNION ALL
                SELECT CAST(167772160 AS BIGINT), CAST(16 AS INT)
            ), m AS (
                SELECT e.event_id, b.base, b.len,
                       row_number() OVER (PARTITION BY e.event_id
                                          ORDER BY b.len DESC) AS rn
                FROM e JOIN b
                  ON e.ip >= b.base
                 AND e.ip < b.base + (CAST(1 AS BIGINT) << (32 - b.len))
            )
            SELECT e.event_id, e.ip,
                   m.base AS cidr_base, m.len AS prefix_len
            FROM e LEFT JOIN m
              ON m.event_id = e.event_id AND m.rn = 1
            ORDER BY e.event_id
        """,
        "mm_decode_gif": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h,
                       [(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h)] AS l
                FROM s
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum(l) AS BIGINT) AS sum_r,
                   CAST(list_sum(l) AS BIGINT) AS sum_g,
                   CAST(list_sum(l) AS BIGINT) AS sum_b,
                   CAST(list_min(l) AS INT) AS min_px,
                   CAST(list_max(l) AS INT) AS max_px
            FROM px ORDER BY media_id
        """,
        # the PNG synthesizer encodes the SAME pixels as the PPM one
        # (decode-parity twins), so the closed-form oracle is identical
        "mm_decode_png": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), px AS (
                SELECT media_id, w, h,
                       [(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3)] AS l
                FROM s
            )
            SELECT media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 0]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 1]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(media_id*3 + p*5) % 256
                        FOR p IN range(0, w*h*3) IF p % 3 = 2]) AS BIGINT) AS sum_b,
                   CAST(list_min(l) AS INT) AS min_px,
                   CAST(list_max(l) AS INT) AS max_px
            FROM px ORDER BY media_id
        """,
        # Rice codec closed form: first delta = min_id + 1, later
        # deltas = sorted gaps; encoded bits = sum((delta-1) >> m)
        # + n*(1+m); the Spark side reports the REAL blob header's
        # bit count, so a hash match proves the codec's size math
        "text_heaps_profile": """
            WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
                       FROM documents),
            cps AS (
                SELECT CAST(i AS INT) AS checkpoint,
                       mn + ((mx - mn) * i) // 10 AS doc_threshold
                FROM b, unnest(generate_series(1, 10)) AS t(i)
            ),
            toks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id, unnest(regexp_split_to_array(
                        lower(trim(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ),
            per_doc AS (SELECT doc_id, count(*) AS ntok
                        FROM toks GROUP BY doc_id),
            first AS (SELECT term, min(doc_id) AS fd
                      FROM toks GROUP BY term),
            dcurve AS (
                SELECT c.checkpoint, c.doc_threshold,
                       CAST(count(*) AS BIGINT) AS docs_seen,
                       CAST(sum(d.ntok) AS BIGINT) AS tokens_seen
                FROM cps c JOIN per_doc d ON d.doc_id <= c.doc_threshold
                GROUP BY 1, 2
            ),
            vcurve AS (
                SELECT c.checkpoint,
                       CAST(count(*) AS BIGINT) AS vocab_seen
                FROM cps c JOIN first f ON f.fd <= c.doc_threshold
                GROUP BY 1
            )
            SELECT d.checkpoint, d.doc_threshold, d.docs_seen,
                   d.tokens_seen, coalesce(v.vocab_seen, 0) AS vocab_seen
            FROM dcurve d LEFT JOIN vcurve v ON d.checkpoint = v.checkpoint
            ORDER BY d.checkpoint
        """,
        # ln rounded once per vocab row; HUGEINT regression sums; the
        # truncating slope division is sign-split so // and DIV agree
        "text_zipf_profile": """
            WITH w AS (
                SELECT unnest(regexp_split_to_array(
                    lower(trim(text)), '\\s+')) AS term
                FROM documents
            ), wf AS (SELECT term FROM w WHERE term <> ''),
            f AS (SELECT term, count(*) AS cnt FROM wf GROUP BY term),
            r AS (SELECT cnt, row_number() OVER (
                      ORDER BY cnt DESC, term ASC) AS rnk FROM f),
            xy AS (SELECT CAST(floor(ln(rnk) * 1e6 + 0.5) AS BIGINT) AS x,
                          CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT) AS y,
                          cnt
                   FROM r),
            s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * y) AS sxy, sum(x * x) AS sxx,
                         CAST(sum(cnt) AS BIGINT) AS total_tokens,
                         CAST(count(*) AS BIGINT) AS vocab_size,
                         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                              AS BIGINT) AS hapax_count
                  FROM xy)
            SELECT total_tokens, vocab_size, hapax_count,
                   CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                        WHEN n * sxy - sx * sy >= 0 THEN
                            CAST((n * sxy - sx * sy) * 1000000
                                 // (n * sxx - sx * sx) AS BIGINT)
                        ELSE
                            -CAST((sx * sy - n * sxy) * 1000000
                                  // (n * sxx - sx * sx) AS BIGINT)
                   END AS zipf_slope_micro
            FROM s
        """,
        # DSIR: each ln quantized ONCE to micro-units (the zipf/bm25
        # discipline); the doc score is then an exact integer dot
        # product, so the hash matches on any engine
        "text_dsir_weights": """
            WITH toks AS (
                SELECT doc_id, lang,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> '')) AS token
                FROM documents
            ), df AS (
                SELECT doc_id, lang,
                       CAST(('0x'||substr(md5(token),1,15)) AS BIGINT)
                           % 256 AS bucket,
                       count(*) AS c
                FROM toks GROUP BY 1, 2, 3
            ), bc AS (
                SELECT bucket, sum(c) AS cr,
                       sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
                FROM df GROUP BY 1
            ), dist AS MATERIALIZED (
                SELECT bucket,
                       CAST(floor(ln(ct + 1) * 1e6 + 0.5) AS BIGINT)
                       - CAST(floor(ln(cr + 1) * 1e6 + 0.5)
                              AS BIGINT) AS lam_part,
                       ct, cr
                FROM bc
            ), tot AS (
                SELECT CAST(floor(ln(sum(cr) + 256) * 1e6 + 0.5) AS BIGINT)
                       - CAST(floor(ln(sum(ct) + 256) * 1e6 + 0.5)
                              AS BIGINT) AS lam_norm
                FROM dist
            ), lam AS (
                SELECT bucket,
                       lam_part + (SELECT lam_norm FROM tot) AS lam_micro
                FROM dist
            ), scored AS (
                SELECT df.doc_id,
                       CAST(sum(c) AS BIGINT) AS tokens,
                       CAST(sum(c * lam_micro) AS BIGINT)
                           AS dsir_score_micro
                FROM df JOIN lam USING (bucket) GROUP BY 1
            )
            SELECT d.doc_id, d.lang,
                   CAST(COALESCE(s.tokens, 0) AS BIGINT) AS tokens,
                   CAST(COALESCE(s.dsir_score_micro, 0) AS BIGINT)
                       AS dsir_score_micro
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
            ORDER BY dsir_score_micro DESC, d.doc_id
        """,
        # mirrors render_line_corpus exactly (md5-keyed decorations,
        # 12-token windows) then replays the C4 rules; list(... ORDER
        # BY line_idx) FILTER reassembles kept lines in order
        # span corruption: per-token rows via range(len) keep the
        # 0-based index math identical; string_agg(... ORDER BY i)
        # skips NULL pieces exactly like the filtered array_join
        "text_span_corruption": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), e AS (
                SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t
            ), p AS (
                SELECT doc_id, i, toks[i + 1] AS tok,
                       (i // 3) % 5 = 0 AS masked,
                       i % 3 = 0 AS first_,
                       i // 15 AS sid
                FROM e
            )
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_tokens,
                   CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS INT)
                       AS n_masked,
                   string_agg(
                       CASE WHEN NOT masked THEN tok
                            WHEN first_ THEN
                                '<extra_id_' || CAST(sid AS VARCHAR) || '>'
                       END, ' ' ORDER BY i) AS input_text,
                   string_agg(
                       CASE WHEN masked THEN
                           (CASE WHEN first_ THEN '<extra_id_'
                                || CAST(sid AS VARCHAR) || '> ' || tok
                            ELSE tok END)
                       END, ' ' ORDER BY i)
                   || ' <extra_id_'
                   || CAST(((count(*) + 2) // 3 + 4) // 5 AS VARCHAR)
                   || '>' AS target_text
            FROM p GROUP BY doc_id ORDER BY doc_id
        """,
        # boilerplate blocks: same split/strip/density math; DuckDB
        # regexp_replace needs the explicit 'g' flag (Spark's is
        # global by default) and list_sum of an empty list is NULL
        "text_boilerplate_blocks": """
            WITH pages AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                       || '</title></head><body><div><a href="http://'
                       || source || '.example.com/">home ' || lang
                       || '</a> <a href="/about">about</a></div><p>'
                       || text || '</p><p>ok</p><div>Copyright ' || source
                       || ' <a href="#">terms of use</a></div></body></html>'
                       AS html
                FROM documents
            ), segs AS (
                SELECT doc_id,
                       string_split_regex(html,
                           '</?(p|div|h1|h2|h3|li|ul|title|body|html|head|footer|nav)[^>]*>')
                       AS l
                FROM pages
            ), idx AS (
                SELECT doc_id, l, unnest(range(len(l))) AS i FROM segs
            ), blocks AS (
                SELECT doc_id, CAST(i AS INT) AS block_idx,
                       trim(regexp_replace(regexp_replace(
                           l[i + 1], '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))
                           AS text_,
                       COALESCE(list_sum(list_transform(
                           regexp_extract_all(l[i + 1],
                               '<a[^>]*>([^<]*)</a>', 1),
                           x -> length(x))), 0) AS achars
                FROM idx
            ), scored AS (
                SELECT doc_id, block_idx,
                       CAST(len(string_split(lower(text_), ' ')) AS INT)
                           AS n_words,
                       CAST(achars * 1000000 // length(text_) AS BIGINT)
                           AS link_density_micro,
                       CAST(len(list_filter(string_split(lower(text_), ' '),
                           t -> list_contains(['the','and','of','to','a',
                               'der','die','und','das','ist','le','la','et',
                               'les','des','el','que','los','de'], t)))
                           * 1000000
                           // len(string_split(lower(text_), ' '))
                           AS BIGINT) AS stop_density_micro
                FROM blocks WHERE length(text_) > 0
            )
            SELECT doc_id, block_idx, n_words, link_density_micro,
                   stop_density_micro,
                   CASE WHEN link_density_micro > 500000 THEN 'boilerplate'
                        WHEN n_words < 5 THEN 'boilerplate'
                        WHEN stop_density_micro >= 300000
                             AND n_words >= 10 THEN 'content'
                        WHEN n_words >= 20 THEN 'content'
                        ELSE 'boilerplate' END AS label
            FROM scored ORDER BY doc_id, block_idx
        """,
        "text_c4_filter": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), nl AS (
                SELECT doc_id, toks,
                       greatest(CAST((len(toks) + 11) // 12 AS BIGINT),
                                1) AS n_lines
                FROM t
            ), ln0 AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0,
                           CAST(n_lines - 1 AS BIGINT))) AS line_idx
                FROM nl
            ), ln1 AS (
                SELECT doc_id, line_idx,
                       array_to_string(list_slice(
                           toks, line_idx * 12 + 1,
                           line_idx * 12 + 12), ' ') AS raw,
                       CAST(('0x' || substr(md5(
                           doc_id || ':' || line_idx), 1, 15))
                           AS BIGINT) AS h
                FROM ln0
            ), ln2 AS (
                SELECT doc_id, line_idx, h,
                       CASE WHEN h % 37 = 0 THEN 'javascript ' || raw
                            ELSE raw END AS l1
                FROM ln1
            ), ln3 AS (
                SELECT doc_id, line_idx, h,
                       CASE WHEN doc_id % 101 = 0 AND line_idx = 0
                            THEN 'lorem ipsum ' || l1
                            ELSE l1 END AS l2
                FROM ln2
            ), lns AS (
                SELECT doc_id, line_idx,
                       CASE WHEN h % 10 <> 0 THEN l2 || '.'
                            ELSE l2 END AS line
                FROM ln3
            ), flags AS (
                SELECT doc_id, line_idx, line,
                       (regexp_matches(line, '[.!?"]$')
                        AND len(regexp_split_to_array(
                                trim(line), '\\s+')) >= 3
                        AND NOT (contains(lower(line), 'javascript')
                                 OR contains(lower(line), 'cookie policy')
                                 OR contains(lower(line), 'terms of use')
                                 OR contains(lower(line), 'privacy policy'))
                       ) AS keep,
                       CASE WHEN contains(lower(line), 'lorem ipsum')
                                 OR contains(line, '{') THEN 1
                            ELSE 0 END AS poison
                FROM lns
            ), agg AS (
                SELECT doc_id,
                       CAST(count(*) AS INT) AS n_lines,
                       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                            AS INT) AS n_kept,
                       max(poison) AS poisoned,
                       array_to_string(
                           list(line ORDER BY line_idx)
                               FILTER (WHERE keep), ' ') AS clean_text
                FROM flags GROUP BY doc_id
            )
            SELECT doc_id, n_lines, n_kept,
                   coalesce(clean_text, '') AS clean_text
            FROM agg
            WHERE poisoned = 0 AND n_kept >= 5
            ORDER BY doc_id
        """,
        "text_inverted_index": """
            WITH td AS (
                SELECT DISTINCT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(
                               lower(trim(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), d AS (
                SELECT term, doc_id,
                       coalesce(doc_id - lag(doc_id) OVER (
                           PARTITION BY term ORDER BY doc_id),
                           doc_id + 1) AS delta
                FROM td
            )
            SELECT term,
                   CAST(count(*) AS INT) AS n_items,
                   CAST(sum((delta - 1) >> 2) + count(*) * 3
                        AS BIGINT) AS total_bits,
                   CAST(sum(doc_id) AS BIGINT) AS sum_fp,
                   CAST(2 AS INT) AS m
            FROM d GROUP BY term ORDER BY term
        """,
        "fn_rice_fp_lists": """
            WITH d AS (
                SELECT source, doc_id,
                       coalesce(doc_id - lag(doc_id) OVER (
                           PARTITION BY source ORDER BY doc_id),
                           doc_id + 1) AS delta
                FROM documents
            )
            SELECT source,
                   CAST(count(*) AS INT) AS n_items,
                   CAST(sum((delta - 1) >> 6) + count(*) * 7
                        AS BIGINT) AS total_bits,
                   CAST(sum(doc_id) AS BIGINT) AS sum_fp,
                   CAST(6 AS INT) AS m
            FROM d GROUP BY source ORDER BY source
        """,
        # HTTP-payload extraction: status/content-type/body are all
        # recomputable from the synthesized message
        "source_warc_http_extract": """
            SELECT doc_id,
                   'http://' || source || '.example.com/h/'
                       || CAST(doc_id AS VARCHAR) AS target_uri,
                   printf('2024-03-%02dT%02d:%02d:00Z',
                          doc_id % 28 + 1, doc_id % 24,
                          doc_id % 60) AS warc_date,
                   CAST(CASE WHEN doc_id % 10 = 0 THEN 404
                             ELSE 200 END AS INT) AS status_code,
                   'text/' || lang || '; charset=utf-8'
                       AS http_content_type,
                   text
            FROM documents ORDER BY doc_id
        """,
        # WET: the oracle replays the deterministic page render through
        # the SAME projection the extractor defines (tags -> spaces,
        # entities decoded, whitespace collapsed) as plain string SQL
        "source_wet_extract": """
            SELECT doc_id,
                   'conversion' AS warc_type,
                   'text/plain' AS content_type,
                   '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>'
                       AS refers_to,
                   trim(regexp_replace(
                       'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                           || ' anchor ' || lang || ' Tail & fin',
                       '\\s+', ' ', 'g')) AS text
            FROM documents ORDER BY doc_id
        """,
        "source_wat_metadata": """
            SELECT doc_id,
                   TRUE AS container_ok,
                   '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>'
                       AS src_record,
                   CAST(CASE WHEN doc_id % 10 = 0 THEN 404
                             ELSE 200 END AS INT) AS status,
                   'text/html; charset=utf-8' AS http_content_type,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   2 AS n_links,
                   'http://' || source || '.example.com/w/'
                       || CAST(doc_id AS VARCHAR) AS first_link,
                   'A@/href' AS first_path,
                   'anchor ' || lang AS first_text
            FROM documents ORDER BY doc_id
        """,
        # cc-index-table: every typed column recomputed from the
        # documents generator (status-200 rows only -- the gate's
        # pushed filter); fetch_time via make_timestamp mirrors the
        # gate's to_timestamp of the synthesized ISO instant
        "source_ccindex_table": _CCINDEX_SQL,
        # the streaming build must produce the identical index
        "stream_ccindex_build": _CCINDEX_SQL,
        # archive -> parse -> link emit -> host graph: every page
        # holds one intra-host anchor (dropped) and one iframe to
        # frame.<source>.net, so the edge list is (source host ->
        # frame host) with one link per document of that source
        "pipeline_archive_linkgraph": """
            SELECT 'com.example.' || source AS src_host_rev,
                   'net.' || source || '.frame' AS dst_host_rev,
                   CAST(count(*) AS BIGINT) AS n_links
            FROM documents
            GROUP BY source
            ORDER BY src_host_rev, dst_host_rev
        """,
        # revisit dedup: the kept original per payload class is the
        # min (warc_date, record_id) -- both recomputable from doc_id
        "source_warc_revisit": """
            WITH recs AS (
                SELECT doc_id,
                       CAST(doc_id % 40 AS INT) AS cls,
                       printf('2024-05-%02dT%02d:%02d:00Z',
                              CAST(doc_id % 28 + 1 AS INT),
                              CAST(doc_id % 24 AS INT),
                              CAST(doc_id % 60 AS INT)) AS wd,
                       '<urn:uuid:rv-' || CAST(doc_id AS VARCHAR)
                           || '>' AS rid
                FROM documents
            ), ranked AS (
                SELECT doc_id, cls,
                       row_number() OVER (
                           PARTITION BY cls ORDER BY wd, rid
                       ) AS rk,
                       first_value(doc_id) OVER (
                           PARTITION BY cls ORDER BY wd, rid
                       ) AS orig_doc
                FROM recs
            )
            SELECT doc_id,
                   CASE WHEN rk = 1 THEN 'response'
                        ELSE 'revisit' END AS warc_type,
                   CASE WHEN rk = 1 THEN NULL
                        ELSE orig_doc END AS refers_doc,
                   CASE WHEN rk = 1 THEN CAST(
                       30 + strlen(CAST(doc_id AS VARCHAR))
                          + length('payload-'
                           || CAST(cls AS VARCHAR)) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS block_len
            FROM ranked ORDER BY doc_id
        """,
        # identity oracle for the WARC roundtrip: every column is
        # recomputable from the producing documents row
        "source_warc_roundtrip": """
            SELECT doc_id,
                   'response' AS warc_type,
                   'http://' || source || '.example.com/doc/'
                       || CAST(doc_id AS VARCHAR) AS target_uri,
                   printf('2024-02-%02dT%02d:%02d:%02dZ',
                          doc_id % 28 + 1, doc_id % 24, doc_id % 60,
                          (doc_id * 3) % 60) AS warc_date,
                   'application/http; msgtype=response' AS content_type,
                   strlen(text) AS content_length,
                   text
            FROM documents ORDER BY doc_id
        """,
        # nearest-neighbor sample: src pixel (y*h//3, x*w//4), flat
        # index (src_y*w + src_x)*3 + c, value (mid*3 + p*5) % 256
        "mm_resize_ppm": """
            WITH s AS (
                SELECT doc_id AS media_id,
                       8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                FROM documents
            ), grid AS (
                SELECT media_id, w, h, ty.y AS y, tx.x AS x, tc.c AS c
                FROM s, range(0, 3) ty(y), range(0, 4) tx(x),
                     range(0, 3) tc(c)
            )
            SELECT media_id, CAST(4 AS INT) AS width,
                   CAST(3 AS INT) AS height,
                   CAST(sum((media_id*3
                        + (((y*h)//3*w + (x*w)//4)*3 + c)*5) % 256)
                        AS BIGINT) AS sum_thumb
            FROM grid GROUP BY media_id ORDER BY media_id
        """,
        "query_domain_list": """
            WITH domains AS (
                SELECT source AS domain, count(*) AS doc_count,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars,
                       count(DISTINCT lang) AS lang_count
                FROM documents GROUP BY 1
            )
            SELECT * FROM domains WHERE regexp_matches(domain, '^src[0-9]$')
            ORDER BY doc_count DESC, domain ASC LIMIT 5 OFFSET 2
        """,
        "query_domain_resort": """
            WITH domains AS (
                SELECT source AS domain, count(*) AS doc_count,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars,
                       count(DISTINCT lang) AS lang_count
                FROM documents GROUP BY 1
            )
            SELECT * FROM domains WHERE regexp_matches(domain, '^src[0-9]$')
            ORDER BY total_chars ASC, domain ASC LIMIT 5 OFFSET 0
        """,
        "query_url_detail": """
            SELECT * FROM orders WHERE o_orderkey = 100
        """,
        "query_inverse_links": "WITH "
        + _edges_cte()
        + """
            , inv AS (
                SELECT dst, count(DISTINCT src) AS inlink_count,
                       array_to_string(list_sort(list(DISTINCT src))[1:100], ',')
                           AS src_sample
                FROM edges GROUP BY dst
            )
            SELECT dst, inlink_count, src_sample FROM inv
            WHERE dst % 97 = 7
            ORDER BY inlink_count DESC, dst ASC LIMIT 10 OFFSET 0
        """,
        "stream_windowed_stats": """
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "stream_distinct_pairs": """
            SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type
        """,
        "win_session_window": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       -- session_window merges an event landing
                       -- EXACTLY at prev + gap (boundary is > gap)
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 3600000000
                            THEN 1 ELSE 0 END AS boundary
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ids AS (
                SELECT *, sum(boundary) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS sid
                FROM flagged
            )
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 60 MINUTE AS session_expiry,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM ids GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "sessionize_events": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 3600000000
                            THEN 1 ELSE 0 END AS boundary
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ids AS (
                SELECT *, CAST(sum(boundary) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, min(ts) AS session_start,
                   max(ts) AS session_end, count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3) AS DOUBLE) AS sum_value
            FROM ids GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "stream_generational_upsert": """
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   max(ts) AS last_ts,
                   CAST(round(sum(CAST(value AS DECIMAL(15,2))), 3)
                        AS DOUBLE) AS sum_value
            FROM events WHERE user_id % 5 = 0
            GROUP BY user_id ORDER BY user_id
        """,
        "stream_sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 3600000000
                            THEN 1 ELSE 0 END AS boundary
                FROM events WHERE user_id % 5 = 0
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ids AS (
                SELECT *, CAST(sum(boundary) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, min(ts) AS session_start,
                   max(ts) AS session_end, count(*) AS n_events
            FROM ids GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "source_archive_roundtrip": """
            SELECT doc_id, text FROM documents ORDER BY doc_id
        """,
        # identity oracle: every read-back column is recomputable from
        # the documents row that produced the ARC record. record_length
        # = header bytes ("x-doc: <id>\r\nlang: <lang>\r\n\r\n" = 19 +
        # len(id) + len(lang)) + payload bytes (strlen = BYTES in
        # DuckDB, matching the UTF-8 encode on the Spark side).
        "source_arc_v1_roundtrip": """
            SELECT doc_id,
                   'http://' || source || '.example.com/doc/'
                       || CAST(doc_id AS VARCHAR) AS url,
                   printf('10.%d.%d.%d', doc_id % 200,
                          (doc_id // 200) % 200, doc_id % 250) AS ip,
                   printf('201203%02d%02d%02d%02d', doc_id % 28 + 1,
                          doc_id % 24, doc_id % 60,
                          (doc_id * 7) % 60) AS archive_date,
                   epoch_ms(strptime(printf('201203%02d%02d%02d%02d',
                          doc_id % 28 + 1, doc_id % 24, doc_id % 60,
                          (doc_id * 7) % 60), '%Y%m%d%H%M%S'))
                       AS fetch_epoch_ms,
                   'text/html' AS mime,
                   19 + length(CAST(doc_id AS VARCHAR)) + strlen(lang)
                       + strlen(text) AS record_length,
                   lang, text
            FROM documents ORDER BY doc_id
        """,
        # closed-form generator recomputation (the Spark side
        # synthesizes sitemap XML and parses it back; a parse bug
        # cannot cancel out because this side never touches XML)
        "source_sitemap_parse": """
            SELECT 'd' || CAST(o_orderkey % 20 AS VARCHAR) || '.com' AS host,
                   'url' AS kind,
                   'https://d' || CAST(o_orderkey % 20 AS VARCHAR)
                       || '.com/o/' || CAST(o_orderkey AS VARCHAR)
                       || '?a=1&b=2' AS loc,
                   CAST(o_orderdate AS DATE) AS lastmod,
                   (['always', 'hourly', 'daily', 'weekly', 'monthly',
                     'yearly', 'never'])[CAST(o_orderkey % 7 AS INT) + 1]
                       AS changefreq,
                   CAST((o_orderkey % 10) * 100000 AS BIGINT)
                       AS priority_micro
            FROM orders
            ORDER BY host, loc
        """,
        "source_xml_roundtrip": """
            SELECT doc_id AS page_id, source AS title, text
            FROM documents ORDER BY page_id
        """,
        "source_csv_import": """
            SELECT CAST(doc_id AS INT) AS rank, source AS domain
            FROM documents ORDER BY rank
        """,
        "source_jsonl_roundtrip": """
            SELECT event_id, user_id, event_type,
                   round(value, 6) AS value
            FROM events ORDER BY event_id
        """,
        "source_timeseries_tail": """
            SELECT event_id, user_id, event_type, round(value, 6) AS value, ts
            FROM events
            WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
            ORDER BY event_id
        """,
        "source_multi_sink": """
            SELECT doc_id, lang, source FROM documents ORDER BY doc_id
        """,
        "graph_link_edges": """
            SELECT src, dst, link_type FROM (
                SELECT DISTINCT l_suppkey AS src,
                       l_partkey + 1000000 AS dst,
                       'supplies' AS link_type
                FROM lineitem
                UNION ALL
                SELECT DISTINCT l_partkey + 1000000 AS src,
                       l_suppkey AS dst,
                       'returns' AS link_type
                FROM lineitem WHERE l_linenumber = 1
            ) ORDER BY src, dst, link_type
        """,
        "graph_inverse_links": "WITH "
        + _edges_cte()
        + """
            SELECT dst, count(DISTINCT src) AS inlink_count,
                   array_to_string(list_sort(list(DISTINCT src))[1:100], ',')
                       AS src_sample
            FROM edges GROUP BY dst ORDER BY dst
        """,
        "graph_degree_stats": "WITH "
        + _edges_cte()
        + """
            SELECT node, CAST(sum(outd) AS BIGINT) AS out_degree,
                   CAST(sum(ind) AS BIGINT) AS in_degree FROM (
                SELECT src AS node, 1 AS outd, 0 AS ind FROM edges
                UNION ALL
                SELECT dst AS node, 0 AS outd, 1 AS ind FROM edges
            ) GROUP BY node ORDER BY node
        """,
        "graph_pagerank": _pagerank_sql(iterations=3),
        "graph_opic": _opic_sql(iterations=4),
        "graph_pagerank_personalized": _ppr_sql(iterations=3, seed_mod=50),
        "graph_pagerank_converged": _pagerank_converged_sql(),
        "sim_kmeans_exact": _kmeans_sql(),
        "sim_sq_topk": """
            WITH pts AS MATERIALIZED (
                SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                       CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                                  * 1000000 + 0.5) AS BIGINT)
                           + 1048576 AS q
                FROM embeddings
            ),
            stats AS (
                SELECT dim, min(q) AS mn, max(q) AS mx FROM pts GROUP BY dim
            ),
            recon AS (
                SELECT p.vec_id, p.dim,
                       s.mn + (((p.q - s.mn) * 255
                                // greatest(s.mx - s.mn, 1))
                               * (s.mx - s.mn)) // 255 AS r
                FROM pts p JOIN stats s USING (dim)
            ),
            probes AS (
                SELECT vec_id AS probe_id, dim, q AS pq
                FROM pts WHERE vec_id < 10
            ),
            dists AS (
                SELECT pr.probe_id, rc.vec_id,
                       sum((pr.pq - rc.r) * (pr.pq - rc.r)) AS sq_dist
                FROM recon rc JOIN probes pr USING (dim)
                WHERE rc.vec_id <> pr.probe_id
                GROUP BY 1, 2
            )
            SELECT probe_id, vec_id, CAST(sq_dist AS BIGINT) AS sq_dist,
                   CAST(rnk AS INT) AS rnk
            FROM (
                SELECT probe_id, vec_id, sq_dist,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY sq_dist, vec_id) AS rnk
                FROM dists
            ) WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        "dedup_semantic": _semantic_dedup_sql(threshold=0.35),
        # the selected rows recomputed straight from the generator:
        # any offset/merge/extraction fault changes URI, date, status
        # or body text and hash-mismatches
        "pipeline_selective_extract": """
            SELECT doc_id,
                   'http://' || source || '.example.com/w/'
                       || CAST(doc_id AS VARCHAR) AS target_uri,
                   printf('2024-04-%02dT%02d:%02d:00Z',
                          CAST(doc_id % 28 + 1 AS INT),
                          CAST(doc_id % 24 AS INT),
                          CAST(doc_id % 60 AS INT)) AS warc_date,
                   CAST(200 AS INT) AS status,
                   text AS body_text
            FROM documents
            WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0
            ORDER BY doc_id
        """,
        # window-for-window mirror of fetch_plan's run detection over
        # the same closed-form pointer synthesis
        "source_fetch_plan": """
            WITH ptrs AS (
                SELECT 'seg-' || CAST(doc_id % 7 AS VARCHAR) AS filename,
                       (row_number() OVER (
                            PARTITION BY doc_id % 7 ORDER BY doc_id
                        ) - 1) * 1000 + doc_id % 300 AS off,
                       100 + doc_id % 50 AS len
                FROM documents
            ), flagged AS (
                SELECT filename, off, len,
                       CASE WHEN lag(off + len) OVER (
                                PARTITION BY filename
                                ORDER BY off, len
                            ) IS NULL
                            OR off > lag(off + len) OVER (
                                PARTITION BY filename
                                ORDER BY off, len
                            ) + 700
                            THEN 1 ELSE 0 END AS s
                FROM ptrs
            ), runs AS (
                SELECT filename, off, len,
                       sum(s) OVER (
                           PARTITION BY filename ORDER BY off, len
                           ROWS UNBOUNDED PRECEDING
                       ) AS rid
                FROM flagged
            )
            SELECT filename,
                   CAST(min(off) AS BIGINT) AS range_start,
                   CAST(max(off + len) AS BIGINT) AS range_end,
                   count(*) AS n_records,
                   CAST(sum(len) AS BIGINT) AS record_bytes,
                   CAST(max(off + len) - min(off) - sum(len) AS BIGINT)
                       AS wasted_bytes
            FROM runs GROUP BY filename, rid
            ORDER BY filename, range_start
        """,
        "source_cdx_index": """
            SELECT array_to_string(
                       list_reverse(string_split(
                           source || '.example.com', '.')), ',')
                       || ')/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
                   '202402' || printf('%02d', doc_id % 28 + 1)
                       || printf('%02d', doc_id % 24)
                       || printf('%02d', doc_id % 60)
                       || printf('%02d', (doc_id * 3) % 60) AS timestamp,
                   'http://' || source || '.example.com/doc/'
                       || CAST(doc_id AS VARCHAR) AS original,
                   'application/http; msgtype=response' AS mime,
                   sha256(text) AS digest
            FROM documents ORDER BY urlkey, timestamp
        """,
        "stream_countmin": """
            WITH keys AS (
                SELECT CAST(user_id AS VARCHAR) AS key FROM events
            ), salts AS (SELECT unnest([0, 1, 2, 3]) AS r),
            cells AS (
                SELECT r,
                       CAST(('0x'||substr(md5(CAST(r AS VARCHAR)
                            || '|' || key), 1, 15)) AS BIGINT)
                            % 512 AS bucket,
                       count(*) AS cnt
                FROM keys, salts
                GROUP BY 1, 2
            ), top AS (
                SELECT key, count(*) AS exact_cnt
                FROM keys GROUP BY key
                ORDER BY exact_cnt DESC, key LIMIT 20
            ), probes AS (
                SELECT t.key, t.exact_cnt, s.r,
                       CAST(('0x'||substr(md5(CAST(s.r AS VARCHAR)
                            || '|' || t.key), 1, 15)) AS BIGINT)
                            % 512 AS bucket
                FROM top t, salts s
            )
            SELECT p.key, p.exact_cnt,
                   CAST(min(c.cnt) AS BIGINT) AS cms_estimate
            FROM probes p JOIN cells c
                ON p.r = c.r AND p.bucket = c.bucket
            GROUP BY 1, 2 ORDER BY exact_cnt DESC, key
        """,
        "text_langid_ngram": """
            WITH norm AS (
                SELECT doc_id, lang,
                       regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')
                           AS t
                FROM documents
                WHERE length(regexp_replace(
                          lower(text), '[^a-z0-9]+', ' ', 'g')) >= 3
            ),
            tris AS MATERIALIZED (
                SELECT doc_id, lang, substr(t, i, 3) AS tri
                FROM (
                    SELECT doc_id, lang, t,
                           unnest(generate_series(1, length(t) - 2)) AS i
                    FROM norm
                )
            ),
            lang_prof AS MATERIALIZED (
                SELECT lang, tri, rl FROM (
                    SELECT lang, tri,
                           row_number() OVER (PARTITION BY lang
                               ORDER BY count(*) DESC, tri) AS rl
                    FROM tris GROUP BY lang, tri
                ) WHERE rl <= 50
            ),
            doc_prof AS MATERIALIZED (
                SELECT doc_id, tri, rd FROM (
                    SELECT doc_id, tri,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY count(*) DESC, tri) AS rd
                    FROM tris GROUP BY doc_id, tri
                ) WHERE rd <= 50
            ),
            doc_sizes AS (
                SELECT doc_id, count(*) AS nd FROM doc_prof GROUP BY doc_id
            ),
            dists AS (
                SELECT d.doc_id, m.lang,
                       m.matched_pen + (d.nd - m.matched_cnt) * 50 AS dist
                FROM (
                    SELECT p.doc_id, l.lang,
                           sum(abs(p.rd - l.rl)) AS matched_pen,
                           count(*) AS matched_cnt
                    FROM doc_prof p JOIN lang_prof l USING (tri)
                    GROUP BY p.doc_id, l.lang
                ) m JOIN doc_sizes d USING (doc_id)
            ),
            pred AS (
                SELECT doc_id, lang AS pred_lang FROM (
                    SELECT doc_id, lang,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY dist, lang) AS rn
                    FROM dists
                ) WHERE rn = 1
            )
            SELECT d.lang, coalesce(p.pred_lang, 'und') AS pred_lang,
                   count(*) AS cnt
            FROM documents d LEFT JOIN pred p USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "text_bpe_merges": _bpe_merges_sql(num_merges=6),
        "text_bpe_encode": _bpe_encode_sql(num_merges=6),
        "text_bpe_fertility": _bpe_fertility_sql(num_merges=6),
        "text_quality_classifier": """
            WITH arrs AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
                FROM documents
            ),
            feats AS (
                SELECT doc_id, unnest(arr) AS feat FROM arrs
                UNION ALL
                SELECT doc_id, arr[i] || '_' || arr[i + 1] AS feat
                FROM (
                    SELECT doc_id, arr,
                           unnest(generate_series(1, len(arr) - 1)) AS i
                    FROM arrs
                )
            ),
            w AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('w:' || CAST(
                           CAST(('0x' || substr(md5('qc:' || feat), 1, 8))
                                AS BIGINT) % 4096 AS VARCHAR)), 1, 8))
                            AS BIGINT) % 2001 - 1000 AS wt
                FROM feats
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_features, sum(wt) AS s
                FROM w GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_features, 0) AS BIGINT) AS n_features,
                   CAST(coalesce(
                       ((a.s + 1000 * a.n_features) * 1000000)
                           // a.n_features - 1000000000, 0)
                       AS BIGINT) AS score_micro,
                   CASE WHEN a.n_features IS NULL THEN 'empty'
                        WHEN ((a.s + 1000 * a.n_features) * 1000000)
                             // a.n_features - 1000000000 >= 0 THEN 'keep'
                        ELSE 'filter' END AS label
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id
        """,
        "graph_hits": _hits_sql(iterations=2),
        "graph_kcore": _kcore_sql(k=3, rounds=30),
        "graph_label_propagation": _lpa_sql(iterations=4),
        # recursive tier: DuckDB's WITH RECURSIVE is the natural
        # oracle for the path-doubling closure (UNION semantics =
        # semi-naive set growth; both converge to the same closure)
        "graph_reach_counts": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders WHERE o_orderpriority = '1-URGENT'
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            reach(src, dst) AS (
                SELECT src, dst FROM e2
                UNION
                SELECT r.src, t.dst FROM reach r JOIN e2 t
                ON r.dst = t.src WHERE r.src <> t.dst
            ), nodes AS (
                -- NOT a plain UNION: inside WITH RECURSIVE, DuckDB
                -- 1.0 skips the dedup of a non-recursive CTE's UNION
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            )
            SELECT n.node,
                   CAST(COALESCE(c.n_reach, 0) AS BIGINT) AS n_reach
            FROM nodes n LEFT JOIN (
                SELECT src, count(*) AS n_reach FROM reach GROUP BY src
            ) c ON n.node = c.src
            ORDER BY n.node
        """,
        "graph_scc": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders WHERE o_orderpriority = '1-URGENT'
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            reach(src, dst) AS (
                SELECT src, dst FROM e2
                UNION
                SELECT r.src, t.dst FROM reach r JOIN e2 t
                ON r.dst = t.src WHERE r.src <> t.dst
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), mut AS (
                SELECT r1.src AS node, MIN(r1.dst) AS mw
                FROM reach r1 JOIN reach r2
                ON r1.src = r2.dst AND r1.dst = r2.src
                GROUP BY r1.src
            )
            SELECT n.node,
                   CAST(LEAST(n.node, COALESCE(m.mw, n.node)) AS BIGINT)
                       AS scc_id
            FROM nodes n LEFT JOIN mut m ON n.node = m.node
            ORDER BY n.node
        """,
        "graph_condensation_levels": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders
                WHERE o_orderpriority = '1-URGENT'
                  AND (((o_orderkey % 97) // 24 + 1
                            = ((o_orderkey * 3 + o_custkey) % 97) // 24)
                       OR ((o_orderkey % 97) // 24
                               = ((o_orderkey * 3 + o_custkey) % 97) // 24
                           AND o_orderkey % 3 = 0))
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            reach(src, dst) AS (
                SELECT src, dst FROM e2
                UNION
                SELECT r.src, t.dst FROM reach r JOIN e2 t
                ON r.dst = t.src WHERE r.src <> t.dst
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), mut AS (
                SELECT r1.src AS node, MIN(r1.dst) AS mw
                FROM reach r1 JOIN reach r2
                ON r1.src = r2.dst AND r1.dst = r2.src
                GROUP BY r1.src
            ), scc AS (
                SELECT n.node,
                       LEAST(n.node, COALESCE(m.mw, n.node)) AS scc_id
                FROM nodes n LEFT JOIN mut m ON n.node = m.node
            ), comps AS (
                SELECT scc_id, count(*) AS n_nodes FROM scc GROUP BY scc_id
            ), cedges AS (
                SELECT DISTINCT s1.scc_id AS csrc, s2.scc_id AS cdst
                FROM e2 JOIN scc s1 ON e2.src = s1.node
                        JOIN scc s2 ON e2.dst = s2.node
                WHERE s1.scc_id <> s2.scc_id
            ), walk(c, d) AS (
                SELECT scc_id, 0 FROM comps
                UNION
                SELECT ce.cdst, w.d + 1 FROM walk w JOIN cedges ce
                ON w.c = ce.csrc
            ), lev AS (
                SELECT c AS scc_id, max(d) AS level FROM walk GROUP BY c
            )
            SELECT comps.scc_id, CAST(lev.level AS BIGINT) AS level,
                   CAST(comps.n_nodes AS BIGINT) AS n_nodes
            FROM comps JOIN lev ON comps.scc_id = lev.scc_id
            ORDER BY level, comps.scc_id
        """,
        # HyperBall: registers rebuilt from EXACT recursive-CTE ball
        # membership -- the register iteration is lossless on register
        # vectors, so estimates match bit-for-bit (same md5 window
        # model as agg_distinct_sketch); harmonic = telescoping
        # (est_t - est_{t-1}) // t, floor == trunc on the nonnegative
        # deltas
        "graph_hyperball": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders
                WHERE o_orderpriority = '1-URGENT'
                  AND (((o_orderkey % 97) // 24 + 1
                            = ((o_orderkey * 3 + o_custkey) % 97) // 24)
                       OR ((o_orderkey % 97) // 24
                               = ((o_orderkey * 3 + o_custkey) % 97) // 24
                           AND o_orderkey % 3 = 0))
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), dist0(src, dst, d) AS (
                SELECT src, dst, 1 FROM e2
                UNION
                SELECT r.src, t.dst, r.d + 1 FROM dist0 r JOIN e2 t
                ON r.dst = t.src WHERE r.d < 40 AND r.src <> t.dst
            ), dist AS MATERIALIZED (
                SELECT src, dst, min(d) AS mind FROM dist0 GROUP BY 1, 2
            ), tmax AS (SELECT max(mind) AS tm FROM dist),
            ts AS (
                SELECT unnest(generate_series(0, (SELECT tm FROM tmax)))
                       AS t
            ), members AS MATERIALIZED (
                SELECT n.node AS v, ts.t, n.node AS u FROM nodes n, ts
                UNION ALL
                SELECT d.src, ts.t, d.dst
                FROM dist d JOIN ts ON d.mind <= ts.t
            ), regs AS MATERIALIZED (
                SELECT v, t,
                       CAST(('0x'||substr(md5(CAST(u AS VARCHAR)),1,15))
                            AS BIGINT) % 64 AS bucket,
                       max(41 - length(ltrim(bin(
                           CAST(('0x'||substr(md5(CAST(u AS VARCHAR)),
                                 16,15)) AS BIGINT) % 1099511627776
                       ), '0'))) AS reg
                FROM members GROUP BY v, t, bucket
            ), est AS MATERIALIZED (
                SELECT v, t,
                       CAST(CAST('6389617079320712314880' AS HUGEINT)
                            // (sum(2199023255552 >> reg)
                                + (64 - count(*)) * 2199023255552)
                            AS BIGINT) AS est_micro
                FROM regs GROUP BY v, t
            ), harm AS (
                SELECT e1.v,
                       sum((e1.est_micro - e0.est_micro) // e1.t)
                       AS harmonic_micro
                FROM est e1 JOIN est e0
                ON e0.v = e1.v AND e0.t = e1.t - 1
                WHERE e1.t > 0 GROUP BY e1.v
            ), final AS (
                SELECT v, est_micro FROM est
                WHERE t = (SELECT tm FROM tmax)
            ), reachc AS (
                SELECT src, count(*) AS n_reach FROM dist GROUP BY src
            )
            SELECT n.node,
                   f.est_micro AS ball_est_micro,
                   CAST(COALESCE(h.harmonic_micro, 0) AS BIGINT)
                       AS harmonic_micro,
                   CAST(COALESCE(r.n_reach, 0) AS BIGINT) AS exact_reach
            FROM nodes n
            JOIN final f ON n.node = f.v
            LEFT JOIN harm h ON n.node = h.v
            LEFT JOIN reachc r ON n.node = r.src
            ORDER BY n.node
        """,
        # neighborhood function: per-t estimate totals from the same
        # exact-ball register model; rows stop at the REGISTER-sum
        # fixpoint (what hyperball's Observation detects), which can
        # precede the closure's own tmax
        "graph_neighborhood_function": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders
                WHERE o_orderpriority = '1-URGENT'
                  AND (((o_orderkey % 97) // 24 + 1
                            = ((o_orderkey * 3 + o_custkey) % 97) // 24)
                       OR ((o_orderkey % 97) // 24
                               = ((o_orderkey * 3 + o_custkey) % 97) // 24
                           AND o_orderkey % 3 = 0))
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), dist0(src, dst, d) AS (
                SELECT src, dst, 1 FROM e2
                UNION
                SELECT r.src, t.dst, r.d + 1 FROM dist0 r JOIN e2 t
                ON r.dst = t.src WHERE r.d < 40 AND r.src <> t.dst
            ), dist AS MATERIALIZED (
                SELECT src, dst, min(d) AS mind FROM dist0 GROUP BY 1, 2
            ), tmax AS (SELECT max(mind) AS tm FROM dist),
            ts AS (
                SELECT unnest(generate_series(0, (SELECT tm FROM tmax)))
                       AS t
            ), members AS MATERIALIZED (
                SELECT n.node AS v, ts.t, n.node AS u FROM nodes n, ts
                UNION ALL
                SELECT d.src, ts.t, d.dst
                FROM dist d JOIN ts ON d.mind <= ts.t
            ), regs AS MATERIALIZED (
                SELECT v, t,
                       CAST(('0x'||substr(md5(CAST(u AS VARCHAR)),1,15))
                            AS BIGINT) % 64 AS bucket,
                       max(41 - length(ltrim(bin(
                           CAST(('0x'||substr(md5(CAST(u AS VARCHAR)),
                                 16,15)) AS BIGINT) % 1099511627776
                       ), '0'))) AS reg
                FROM members GROUP BY v, t, bucket
            ), est AS MATERIALIZED (
                SELECT v, t,
                       CAST(CAST('6389617079320712314880' AS HUGEINT)
                            // (sum(2199023255552 >> reg)
                                + (64 - count(*)) * 2199023255552)
                            AS BIGINT) AS est_micro
                FROM regs GROUP BY v, t
            ), sums AS MATERIALIZED (
                SELECT t, CAST(sum(est_micro) AS BIGINT) AS total
                FROM est GROUP BY t
            ), regsums AS MATERIALIZED (
                SELECT t, sum(reg) AS s FROM regs GROUP BY t
            ), tstab AS (
                SELECT COALESCE(min(a.t), (SELECT tm FROM tmax)) AS v
                FROM regsums a JOIN regsums b
                ON b.t = a.t + 1 AND b.s = a.s
            ), kept AS (
                SELECT t, total FROM sums
                WHERE t <= (SELECT v FROM tstab)
            ), fin AS (
                SELECT total AS ftotal FROM kept
                WHERE t = (SELECT v FROM tstab)
            )
            SELECT CAST(t AS INT) AS t, total AS total_est_micro,
                   CAST(total - COALESCE(
                       lag(total) OVER (ORDER BY t), total) AS BIGINT)
                       AS delta_micro,
                   total * 10 >= 9 * (SELECT ftotal FROM fin)
                       AS reached_90pct
            FROM kept ORDER BY t
        """,
        "graph_random_walks": """
            WITH e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders WHERE o_orderpriority = '1-URGENT'
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), re AS MATERIALIZED (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src ORDER BY dst) - 1 AS rnk,
                       count(*) OVER (PARTITION BY src) AS outc
                FROM e2
            ), f0 AS MATERIALIZED (
                SELECT CAST(w.walk_id AS INT) AS walk_id,
                       n.node AS start_node, n.node AS node
                FROM nodes n
                CROSS JOIN (SELECT unnest(range(2)) AS walk_id) w
            ), f1 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f0 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 1), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            ), f2 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f1 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 2), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            ), f3 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f2 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 3), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            ), f4 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f3 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 4), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            ), f5 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f4 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 5), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            ), f6 AS MATERIALIZED (
                SELECT f.walk_id, f.start_node, re.dst AS node
                FROM f5 f JOIN re ON f.node = re.src
                 AND CAST(('0x'||substr(md5(f.walk_id || '#' || f.node
                         || '#' || 6), 1, 15)) AS BIGINT)
                     % re.outc = re.rnk
            )
            SELECT walk_id, start_node, CAST(step AS INT) AS step, node
            FROM (
                SELECT walk_id, start_node, 0 AS step, node FROM f0
                UNION ALL
                SELECT walk_id, start_node, 1 AS step, node FROM f1
                UNION ALL
                SELECT walk_id, start_node, 2 AS step, node FROM f2
                UNION ALL
                SELECT walk_id, start_node, 3 AS step, node FROM f3
                UNION ALL
                SELECT walk_id, start_node, 4 AS step, node FROM f4
                UNION ALL
                SELECT walk_id, start_node, 5 AS step, node FROM f5
                UNION ALL
                SELECT walk_id, start_node, 6 AS step, node FROM f6
            ) ORDER BY walk_id, start_node, step
        """,
        # redirect resolution: the oracle walks one hop at a time (the
        # recursive-CTE semantics pointer doubling compresses); a node
        # whose walk never reaches a pointer-less cur within the d<97
        # budget is on (or feeds) a cycle
        "graph_redirect_resolve": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       ((o_orderkey % 97) * 6 + 13) % 97 AS dst
                FROM orders
                WHERE o_orderpriority = '1-URGENT'
                  AND (o_orderkey % 97) % 5 <> 0
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e
                    UNION ALL SELECT dst FROM e
                )
            ), walk(node, cur, d) AS (
                SELECT node, node, 0 FROM nodes
                UNION
                SELECT w.node, e.dst, w.d + 1
                FROM walk w JOIN e ON w.cur = e.src
                WHERE w.d < 97
            ), term AS (
                SELECT w.node, w.cur AS final_node, w.d AS hops
                FROM walk w LEFT JOIN e p ON w.cur = p.src
                WHERE p.src IS NULL
            )
            SELECT n.node,
                   t.final_node,
                   CAST(t.hops AS BIGINT) AS hops,
                   (t.node IS NULL) AS on_cycle
            FROM nodes n LEFT JOIN term t ON n.node = t.node
            ORDER BY n.node
        """,
        # webgraph oracles replay the _page_links generator, build
        # host edges, and rank node names with ROW_NUMBER (the oracle
        # may use the single-task global sort the engine avoids)
        "graph_host_webgraph": """
            WITH base AS (
                SELECT CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                           ELSE '' END AS sub,
                       CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'blog.' WHEN 1 THEN ''
                           ELSE 'www.' END AS xsub,
                       source || CASE WHEN doc_id % 5 = 0
                           THEN '.co.uk' ELSE '.com' END AS dom,
                       'www.src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
                           || '.com' AS xhost
                FROM documents
            ), links AS (
                SELECT sub || dom AS s, sub || dom AS t FROM base
                UNION ALL SELECT sub || dom, xsub || dom FROM base
                UNION ALL SELECT sub || dom, xhost FROM base
            ), edges AS (
                SELECT array_to_string(
                           list_reverse(string_split(s, '.')), '.'
                       ) AS src_host_rev,
                       array_to_string(
                           list_reverse(string_split(t, '.')), '.'
                       ) AS dst_host_rev,
                       count(*) AS n_links
                FROM links WHERE s <> t GROUP BY 1, 2
            ), nodes AS (
                SELECT name,
                       CAST(row_number() OVER (ORDER BY name) - 1
                           AS BIGINT) AS node_id
                FROM (SELECT src_host_rev AS name FROM edges
                      UNION SELECT dst_host_rev FROM edges)
            )
            SELECT ns.node_id AS src_id, nd.node_id AS dst_id,
                   e.src_host_rev, e.dst_host_rev,
                   CAST(e.n_links AS BIGINT) AS n_links
            FROM edges e
            JOIN nodes ns ON e.src_host_rev = ns.name
            JOIN nodes nd ON e.dst_host_rev = nd.name
            ORDER BY src_id, dst_id
        """,
        # domain collapse mirror: reversed names put the public
        # suffix FIRST, so eTLD+1 = the first 3 labels under the
        # corpus's one multi-label suffix (.co.uk), else the first 2
        "graph_domain_webgraph": """
            WITH base AS (
                SELECT CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                           ELSE '' END AS sub,
                       CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'blog.' WHEN 1 THEN ''
                           ELSE 'www.' END AS xsub,
                       source || CASE WHEN doc_id % 5 = 0
                           THEN '.co.uk' ELSE '.com' END AS dom,
                       'www.src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
                           || '.com' AS xhost
                FROM documents
            ), links AS (
                SELECT sub || dom AS s, sub || dom AS t FROM base
                UNION ALL SELECT sub || dom, xsub || dom FROM base
                UNION ALL SELECT sub || dom, xhost FROM base
            ), edges AS (
                SELECT array_to_string(
                           list_reverse(string_split(s, '.')), '.'
                       ) AS src_host_rev,
                       array_to_string(
                           list_reverse(string_split(t, '.')), '.'
                       ) AS dst_host_rev,
                       count(*) AS n_links
                FROM links WHERE s <> t GROUP BY 1, 2
            ), collapsed AS (
                SELECT CASE WHEN src_host_rev LIKE 'uk.co.%'
                           THEN array_to_string(
                               string_split(src_host_rev, '.')[1:3], '.')
                           ELSE array_to_string(
                               string_split(src_host_rev, '.')[1:2], '.')
                       END AS src_domain_rev,
                       CASE WHEN dst_host_rev LIKE 'uk.co.%'
                           THEN array_to_string(
                               string_split(dst_host_rev, '.')[1:3], '.')
                           ELSE array_to_string(
                               string_split(dst_host_rev, '.')[1:2], '.')
                       END AS dst_domain_rev,
                       n_links
                FROM edges
            )
            SELECT src_domain_rev, dst_domain_rev,
                   CAST(count(*) AS BIGINT) AS n_host_pairs,
                   CAST(sum(n_links) AS BIGINT) AS n_links
            FROM collapsed
            WHERE src_domain_rev <> dst_domain_rev
            GROUP BY 1, 2
            ORDER BY src_domain_rev, dst_domain_rev
        """,
        "graph_webgraph_ranks": _webgraph_ranks_sql(iterations=3),
        "graph_anchor_text": """
            WITH links AS (
                SELECT 'http://site' || CAST(doc_id % 41 AS VARCHAR)
                           || '.example.com/' AS url,
                       lang || ' ' || CAST(doc_id % 7 AS VARCHAR)
                           AS anchor,
                       source || '.example.com' AS src_host
                FROM documents
            ), detail AS (
                SELECT url, anchor, count(*) AS anchor_cnt
                FROM links GROUP BY 1, 2
            ), totals AS (
                SELECT url, count(*) AS total_inlinks,
                       count(DISTINCT src_host) AS n_src_hosts
                FROM links GROUP BY 1
            ), ranked AS (
                SELECT url, anchor, anchor_cnt,
                       row_number() OVER (
                           PARTITION BY url
                           ORDER BY anchor_cnt DESC, anchor ASC
                       ) AS rank
                FROM detail
            )
            SELECT r.url, CAST(r.rank AS INT) AS rank, r.anchor,
                   CAST(r.anchor_cnt AS BIGINT) AS anchor_cnt,
                   CAST(t.total_inlinks AS BIGINT) AS total_inlinks,
                   CAST(t.n_src_hosts AS BIGINT) AS n_src_hosts
            FROM ranked r JOIN totals t USING (url)
            WHERE r.rank <= 3
            ORDER BY r.url, r.rank
        """,
        "graph_bowtie": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_orderkey % 97 AS src,
                       (o_orderkey * 3 + o_custkey) % 97 AS dst
                FROM orders WHERE o_orderpriority = '1-URGENT'
            ), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
            reach(src, dst) AS (
                SELECT src, dst FROM e2
                UNION
                SELECT r.src, t.dst FROM reach r JOIN e2 t
                ON r.dst = t.src WHERE r.src <> t.dst
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e2
                    UNION ALL SELECT dst FROM e2
                )
            ), mut AS (
                SELECT r1.src AS node, MIN(r1.dst) AS mw
                FROM reach r1 JOIN reach r2
                ON r1.src = r2.dst AND r1.dst = r2.src
                GROUP BY r1.src
            ), scc AS (
                SELECT n.node,
                       LEAST(n.node, COALESCE(m.mw, n.node)) AS scc_id
                FROM nodes n LEFT JOIN mut m ON n.node = m.node
            ), core_row AS (
                SELECT scc_id AS core_id FROM (
                    SELECT scc_id, count(*) AS n FROM scc GROUP BY scc_id
                    ORDER BY n DESC, scc_id LIMIT 1)
            ), core AS (
                SELECT node FROM scc, core_row WHERE scc_id = core_id
            )
            SELECT s.node,
                   CASE WHEN s.scc_id = (SELECT core_id FROM core_row)
                            THEN 'core'
                        WHEN EXISTS (SELECT 1 FROM reach r JOIN core c
                                     ON r.dst = c.node
                                     WHERE r.src = s.node) THEN 'in'
                        WHEN EXISTS (SELECT 1 FROM reach r JOIN core c
                                     ON r.src = c.node
                                     WHERE r.dst = s.node) THEN 'out'
                        ELSE 'other' END AS cls
            FROM scc s ORDER BY s.node
        """,
        # independent relational reimplementation of the Chromium
        # ParsedCookie semantics (no terminators/overlong lines in
        # the synthesized set, so cut == line)
        "fn_parse_cookies": """
            WITH s AS (
                SELECT o_orderkey AS key,
                       CASE WHEN o_orderkey % 5 = 0 THEN
                                'sid=' || CAST(o_orderkey AS VARCHAR)
                                || '; Path=/a; Secure; HttpOnly'
                            WHEN o_orderkey % 5 = 1 THEN
                                'BLAHHH; path=/; secure;'
                            WHEN o_orderkey % 5 = 2 THEN
                                '  A=== BC  ;;;   httponly'
                            WHEN o_orderkey % 5 = 3 THEN
                                'token="zz;pp" ; domain=.d'
                                || CAST(o_orderkey % 20 AS VARCHAR)
                                || '.com; max-age='
                                || CAST(o_orderkey % 999 AS VARCHAR)
                            ELSE '   ' END AS line
                FROM orders
            ),
            c AS (
                SELECT key, trim(line, ' ' || chr(9)) <> '' AS valid,
                       list_slice(str_split(line, ';'), 1, 16) AS parts
                FROM s
            ),
            f AS (SELECT key, valid, parts, parts[1] AS p0 FROM c),
            fv AS (
                SELECT key, valid, parts,
                       CASE WHEN strpos(p0, '=') > 0 THEN
                           trim(regexp_extract(p0, '^([^=]*)=', 1), ' ' || chr(9))
                       ELSE '' END AS name,
                       CASE WHEN strpos(p0, '=') > 0 THEN
                           trim(regexp_replace(p0, '^[^=]*=', ''), ' ' || chr(9))
                       ELSE trim(p0, ' ' || chr(9)) END AS value
                FROM f
            ),
            a AS (
                SELECT key, valid, name, value,
                       list_transform(
                           list_slice(parts, 2, 16),
                           p -> struct_pack(
                               n := lower(trim(
                                   CASE WHEN strpos(p, '=') > 0 THEN
                                       regexp_extract(p, '^([^=]*)=', 1)
                                   ELSE p END, ' ' || chr(9))),
                               v := CASE WHEN strpos(p, '=') > 0 THEN
                                       trim(regexp_replace(p,
                                                           '^[^=]*=', ''), ' ' || chr(9))
                                   ELSE '' END
                           )
                       ) AS attrs
                FROM fv
            )
            SELECT key, valid,
                   CASE WHEN valid THEN name END AS name,
                   CASE WHEN valid THEN value END AS value,
                   CASE WHEN valid THEN
                       list_filter(attrs, x -> x.n = 'path')[-1].v
                   END AS path,
                   CASE WHEN valid THEN
                       list_filter(attrs, x -> x.n = 'domain')[-1].v
                   END AS domain,
                   CASE WHEN valid THEN
                       list_filter(attrs, x -> x.n = 'max-age')[-1].v
                   END AS max_age,
                   CASE WHEN valid THEN
                       len(list_filter(attrs, x -> x.n = 'secure')) > 0
                   END AS secure,
                   CASE WHEN valid THEN
                       len(list_filter(attrs, x -> x.n = 'httponly')) > 0
                   END AS httponly
            FROM a ORDER BY key
        """,
        "graph_clustering_coeff": """
            WITH cp AS (
                SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            und0 AS (
                SELECT DISTINCT least(src, dst) AS a,
                                greatest(src, dst) AS b
                FROM cp WHERE src <> dst
            ),
            k AS (
                SELECT n FROM (
                    SELECT n, count(*) AS d FROM (
                        SELECT a AS n FROM und0
                        UNION ALL SELECT b FROM und0
                    ) GROUP BY n
                ) WHERE d <= 100
            ),
            u AS (
                SELECT und0.a, und0.b FROM und0
                JOIN k ka ON und0.a = ka.n
                JOIN k kb ON und0.b = kb.n
            ),
            d2 AS (
                SELECT n, count(*) AS d FROM (
                    SELECT a AS n FROM u UNION ALL SELECT b FROM u
                ) GROUP BY n
            ),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM u e1
                JOIN u e2 ON e1.b = e2.a
                JOIN u e3 ON e1.a = e3.a AND e2.b = e3.b
            ),
            tcnt AS (
                SELECT node, count(*) AS t FROM (
                    SELECT x AS node FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri
                ) GROUP BY node
            )
            SELECT d2.n AS node, CAST(d2.d AS BIGINT) AS degree,
                   CAST(coalesce(t, 0) AS BIGINT) AS triangles,
                   CASE WHEN d2.d >= 2 THEN
                       CAST(floor(2.0 * coalesce(t, 0)
                                  / (d2.d * (d2.d - 1)) * 1e6 + 0.5)
                            AS BIGINT) / 1e6
                   ELSE 0.0 END AS coefficient
            FROM d2 LEFT JOIN tcnt ON d2.n = tcnt.node
            ORDER BY node
        """,
        "query_snippets": """
            WITH m AS (
                SELECT doc_id,
                       strpos(lower(text), 'spark') AS pos, text
                FROM documents
            )
            SELECT doc_id, CAST(pos AS INT) AS pos,
                   substring(text, greatest(pos - 25, 1),
                             pos - greatest(pos - 25, 1) + 5 + 25)
                       AS snippet
            FROM m WHERE pos > 0 ORDER BY doc_id
        """,
        "graph_triangles": """
            WITH cp AS (
                SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            und AS (
                SELECT DISTINCT least(src, dst) AS a,
                                greatest(src, dst) AS b
                FROM cp WHERE src <> dst
            ),
            deg AS (
                SELECT n FROM (
                    SELECT n, count(*) AS d FROM (
                        SELECT a AS n FROM und
                        UNION ALL SELECT b FROM und
                    ) GROUP BY n
                ) WHERE d <= 100
            ),
            u AS (
                SELECT und.a, und.b FROM und
                JOIN deg da ON und.a = da.n
                JOIN deg db ON und.b = db.n
            ),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM u e1
                JOIN u e2 ON e1.b = e2.a
                JOIN u e3 ON e1.a = e3.a AND e2.b = e3.b
            )
            SELECT node, count(*) AS triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node ORDER BY node
        """,
        "graph_pagerank_rootavg": _pagerank_rootavg_sql(iterations=2),
        "graph_connected_components": _CC_SQL,
        "graph_component_sizes": (
            "WITH RECURSIVE "
            + _edges_cte(95000.0)
            + """,
und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
lp(node, comp) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.b, lp.comp FROM lp JOIN und u ON lp.node = u.a WHERE lp.comp < u.b
),
labels AS (SELECT node, min(comp) AS comp FROM lp GROUP BY node)
SELECT comp, count(*) AS size FROM labels GROUP BY comp ORDER BY comp"""
        ),
        "graph_domain_rank": "WITH "
        + _edges_cte()
        + """,
            e AS (
                SELECT DISTINCT src, dst, (src % 97 = dst % 97) AS same_root
                FROM edges
            ),
            counts AS (
                SELECT dst,
                       CAST(sum(CASE WHEN same_root THEN 1 ELSE 0 END) AS BIGINT) AS same_cnt,
                       CAST(sum(CASE WHEN same_root THEN 0 ELSE 1 END) AS BIGINT) AS diff_cnt
                FROM e GROUP BY dst
            )
            SELECT dst, same_cnt, diff_cnt,
                   round(least(sqrt(pow(ln(same_cnt + 1) * 0.2, 2)
                                    + pow(ln(diff_cnt + 1), 2)), 14.0)
                         / 14.0 * 10.0, 6) AS domain_rank
            FROM counts ORDER BY dst
        """,
        "graph_super_domains": "WITH "
        + _edges_cte()
        + """
            SELECT node % 97 AS root, count(DISTINCT node) AS node_count
            FROM nodes GROUP BY 1 HAVING count(DISTINCT node) > 25
            ORDER BY root
        """,
        "dedup_exact": """
            SELECT md5(text) AS sig,
                   count(*) AS dup_count,
                   min(doc_id) AS canonical_doc,
                   max(doc_id) AS max_doc,
                   count(DISTINCT source) AS distinct_sources
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY sig
        """,
        "dedup_normalized": """
            SELECT md5(array_to_string(
                       list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+'))),
                       ' ')) AS sig,
                   count(*) AS dup_count,
                   min(doc_id) AS canonical_doc
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY sig
        """,
        "dedup_cross_source": """
            WITH sigs AS (
                SELECT md5(array_to_string(
                           list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+'))),
                           ' ')) AS sig,
                       source
                FROM documents
            )
            SELECT sig, count(DISTINCT source) AS source_count,
                   count(*) AS dup_count
            FROM sigs GROUP BY sig
            HAVING count(DISTINCT source) > 1 ORDER BY sig
        """,
        "dedup_simhash_lsh": _md5_simhash_pairs_sql(hamming_k=3),
        "dedup_minhash_lsh": _md5_minhash_pairs_sql(min_matching=13),
        # identical semantics: the streaming signature accumulation is
        # bit-identical to the batch build (mergeable min registers)
        "stream_minhash_dedup": _md5_minhash_pairs_sql(min_matching=13),
        "dedup_minhash_clusters": _md5_minhash_clusters_sql(min_matching=13),
        "dedup_sketch_quality": _sketch_quality_sql(perms=16, min_matching=13),
        "dedup_setsim_prefix": _setsim_prefix_sql(num=1, den=2),
        # brute-force + length-filter oracle, fully independent of the
        # PassJoin segment index
        "dedup_editdist_pairs": """
            WITH b AS (SELECT DISTINCT replace(p_name, ' ', '-') || '.com'
                              AS base FROM part),
            names AS (SELECT base AS name FROM b
                      UNION SELECT base[2:] FROM b
                      UNION SELECT 'x' || base[2:] FROM b)
            SELECT a.name AS name_a, c.name AS name_b,
                   CAST(levenshtein(a.name, c.name) AS BIGINT) AS distance
            FROM names a JOIN names c
              ON a.name < c.name
                 AND abs(length(a.name) - length(c.name)) <= 2
            WHERE levenshtein(a.name, c.name) <= 2
            ORDER BY name_a, name_b
        """,
        "text_containment_pairs": _containment_sql(num=1, den=2),
        "dedup_simhash_clusters": _md5_simhash_clusters_sql(hamming_k=3),
        "dedup_cluster_representatives": _cluster_reps_sql(hamming_k=3),
        "pipeline_corpus_build": _corpus_build_sql(),
        "dedup_ngram_jaccard": """
            WITH toks AS (
                SELECT doc_id, lang,
                       CAST(floor(n_chars / 64) AS BIGINT) AS lb,
                       list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tokens
                FROM documents
            )
            SELECT * FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       round(len(list_intersect(a.tokens, b.tokens))
                             / len(list_distinct(list_concat(a.tokens, b.tokens))), 6)
                           AS jaccard
                FROM toks a JOIN toks b
                  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.95 ORDER BY doc_a, doc_b
        """,
        "dedup_embedding_cosine": """
            SELECT * FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 4) AS cosine
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id < b.vec_id
            ) WHERE cosine >= 0.35 ORDER BY vec_a, vec_b
        """,
        "sim_hard_negatives": """
            WITH probes AS (
                SELECT vec_id AS probe_id, embedding,
                       label AS anchor_label
                FROM embeddings WHERE vec_id < 10
            ), scored AS (
                SELECT p.probe_id, p.anchor_label, e.vec_id,
                       e.label AS neg_label,
                       round(list_cosine_similarity(
                           CAST(p.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])), 4) AS cosine
                FROM embeddings e CROSS JOIN probes p
                WHERE e.vec_id <> p.probe_id
                  AND e.label <> p.anchor_label
            ), ranked AS (
                SELECT probe_id, anchor_label, vec_id, neg_label, cosine,
                       row_number() OVER (
                           PARTITION BY probe_id ORDER BY cosine DESC, vec_id
                       ) AS rnk
                FROM scored
            )
            SELECT probe_id, anchor_label, vec_id, neg_label, cosine, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        "sim_brute_force_topk": """
            WITH probes AS (
                SELECT vec_id AS probe_id, embedding FROM embeddings WHERE vec_id < 10
            ), scored AS (
                SELECT p.probe_id, e.vec_id,
                       round(list_cosine_similarity(
                           CAST(p.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])), 4) AS cosine
                FROM embeddings e CROSS JOIN probes p
                WHERE e.vec_id <> p.probe_id
            ), ranked AS (
                SELECT probe_id, vec_id, cosine,
                       row_number() OVER (
                           PARTITION BY probe_id ORDER BY cosine DESC, vec_id
                       ) AS rnk
                FROM scored
            )
            SELECT probe_id, vec_id, cosine, rnk FROM ranked
            WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        # oracle = exact anti-join: the double-hash bloom is
        # deterministic and sized for total history ROWS while keys
        # repeat ~10x, so its effective FP rate is ~1e-10 -- the FP
        # set is empty at gate scale (verified across fpp settings)
        "bloom_frontier_filter": """
            SELECT key FROM (
                SELECT c_custkey AS key FROM customer
                UNION ALL
                SELECT c_custkey + 100000000 AS key FROM customer
            )
            WHERE key NOT IN (SELECT o_custkey FROM orders)
            ORDER BY key
        """,
        "sim_pq_topk": _pq_sql(train_iters=0),
        "sim_pq_trained_topk": _pq_sql(train_iters=6),
        # IVF-PQ: label-column coarse cells route probes exactly like
        # sim_ivf_topk; PQ anchors/codes/ADC exactly like sim_pq_topk;
        # the inverted-list join prunes candidates BEFORE the ADC sum
        "sim_ivfpq_topk": """
            WITH pts AS MATERIALIZED (
                SELECT vec_id,
                       pos - 1 AS dim,
                       CAST((pos - 1) // 16 AS INT) AS sub,
                       CAST(floor(val * 1000000 + 0.5) AS BIGINT)
                           + 1048576 AS q
                FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                             unnest(e) AS val
                      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                            FROM embeddings))
            ), seeds AS (
                SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1
                           AS code
                FROM (SELECT vec_id FROM embeddings
                      ORDER BY vec_id LIMIT 16)
            ), book AS MATERIALIZED (
                SELECT s.code, p.sub, p.dim, p.q AS cq
                FROM pts p JOIN seeds s USING (vec_id)
            ), dists AS MATERIALIZED (
                SELECT p.vec_id, p.sub, b.code,
                       sum((p.q - b.cq) * (p.q - b.cq)) AS dist
                FROM pts p JOIN book b
                ON p.sub = b.sub AND p.dim = b.dim
                GROUP BY 1, 2, 3
            ), codes AS (
                SELECT vec_id, sub, code FROM (
                    SELECT vec_id, sub, code,
                           row_number() OVER (
                               PARTITION BY vec_id, sub
                               ORDER BY dist, code) AS rk
                    FROM dists) WHERE rk = 1
            ), tabs AS (
                SELECT vec_id AS probe_id, sub, code, dist AS pdist
                FROM dists WHERE vec_id < 10
            ), cl AS (
                SELECT vec_id, label AS cell,
                       CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings
            ), cent AS (
                SELECT cell, list(mean_val ORDER BY pos) AS centroid FROM (
                    SELECT cell, pos,
                           round(CAST(sum(CAST(val AS DECIMAL(18,9)))
                                      AS DOUBLE) / count(*), 6) AS mean_val
                    FROM (SELECT cell, generate_subscripts(emb, 1) AS pos,
                                 unnest(emb) AS val
                          FROM cl)
                    GROUP BY cell, pos
                ) GROUP BY cell
            ), probes AS (
                SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pemb
                FROM embeddings WHERE vec_id < 10
            ), routed AS (
                SELECT probe_id, cell FROM (
                    SELECT p.probe_id, c.cell,
                           row_number() OVER (
                               PARTITION BY p.probe_id
                               ORDER BY round(list_cosine_similarity(
                                   p.pemb, c.centroid), 6) DESC, c.cell
                           ) AS crk
                    FROM probes p CROSS JOIN cent c
                ) WHERE crk <= 2
            ), adc AS (
                SELECT t.probe_id, c.vec_id, sum(t.pdist) AS adc_dist
                FROM codes c
                JOIN cl ON c.vec_id = cl.vec_id
                JOIN routed r ON cl.cell = r.cell
                JOIN tabs t ON t.probe_id = r.probe_id
                           AND t.sub = c.sub AND t.code = c.code
                WHERE c.vec_id <> t.probe_id
                GROUP BY 1, 2
            )
            SELECT probe_id, vec_id, CAST(adc_dist AS BIGINT) AS adc_dist,
                   rnk
            FROM (SELECT probe_id, vec_id, adc_dist,
                         CAST(row_number() OVER (
                             PARTITION BY probe_id
                             ORDER BY adc_dist, vec_id) AS INT) AS rnk
                  FROM adc)
            WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        "sim_ivf_topk": """
            WITH cells AS (
                SELECT vec_id, label AS cell,
                       CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings
            ), cent AS (
                SELECT cell, list(mean_val ORDER BY pos) AS centroid FROM (
                    SELECT cell, pos,
                           round(CAST(sum(CAST(val AS DECIMAL(18,9))) AS DOUBLE)
                                 / count(*), 6) AS mean_val
                    FROM (SELECT cell, generate_subscripts(emb, 1) AS pos,
                                 unnest(emb) AS val
                          FROM cells)
                    GROUP BY cell, pos
                ) GROUP BY cell
            ), probes AS (
                SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pemb
                FROM embeddings WHERE vec_id < 10
            ), routed AS (
                SELECT probe_id, pemb, cell FROM (
                    SELECT p.probe_id, p.pemb, c.cell,
                           row_number() OVER (
                               PARTITION BY p.probe_id
                               ORDER BY round(list_cosine_similarity(
                                   p.pemb, c.centroid), 6) DESC, c.cell
                           ) AS crk
                    FROM probes p CROSS JOIN cent c
                ) WHERE crk <= 2
            ), scored AS (
                SELECT r.probe_id, e.vec_id,
                       round(list_cosine_similarity(r.pemb, e.emb), 4) AS cosine
                FROM cells e JOIN routed r ON e.cell = r.cell
                WHERE e.vec_id <> r.probe_id
            ), ranked AS (
                SELECT probe_id, vec_id, cosine,
                       row_number() OVER (
                           PARTITION BY probe_id ORDER BY cosine DESC, vec_id
                       ) AS rnk
                FROM scored
            )
            SELECT probe_id, vec_id, cosine, rnk FROM ranked
            WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        "sim_lsh_topk": """
            WITH signs AS (
                SELECT tt.t, bb.b, dd.d,
                       CASE WHEN CAST('0x' || substr(md5(
                                'hp_' || tt.t || '_' || bb.b || '_' || dd.d
                            ), 1, 15) AS BIGINT) % 2 = 1
                            THEN 1 ELSE -1 END AS s
                FROM (SELECT unnest(range(8)) AS t) tt,
                     (SELECT unnest(range(6)) AS b) bb,
                     (SELECT unnest(range(64)) AS d) dd
            ), qv AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) - 1 AS d,
                       CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                                  + 0.5) AS BIGINT) AS q
                FROM embeddings
            ), dots AS (
                SELECT qv.vec_id, signs.t, signs.b, sum(qv.q * signs.s) AS dot
                FROM qv JOIN signs ON qv.d = signs.d
                GROUP BY qv.vec_id, signs.t, signs.b
            ), bk AS (
                SELECT vec_id, t,
                       sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << b
                                ELSE 0 END) + t * 4294967296 AS bucket
                FROM dots GROUP BY vec_id, t
            ), cand AS (
                SELECT DISTINCT p.vec_id AS probe_id, e.vec_id
                FROM bk e JOIN bk p ON e.bucket = p.bucket
                WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
            ), scored AS (
                SELECT c.probe_id, c.vec_id,
                       round(list_cosine_similarity(
                           CAST(pe.embedding AS DOUBLE[]),
                           CAST(ee.embedding AS DOUBLE[])), 4) AS cosine
                FROM cand c
                JOIN embeddings pe ON pe.vec_id = c.probe_id
                JOIN embeddings ee ON ee.vec_id = c.vec_id
            ), ranked AS (
                SELECT probe_id, vec_id, cosine,
                       row_number() OVER (
                           PARTITION BY probe_id ORDER BY cosine DESC, vec_id
                       ) AS rnk
                FROM scored
            )
            SELECT probe_id, vec_id, cosine, rnk FROM ranked
            WHERE rnk <= 5 ORDER BY probe_id, rnk
        """,
        "sim_label_centroids": """
            WITH expl AS (
                SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                       unnest(embedding) AS val
                FROM embeddings
            ), per_pos AS (
                SELECT label, pos,
                       round(CAST(sum(CAST(val AS DECIMAL(18,9))) AS DOUBLE)
                             / count(*), 6) AS mean_val
                FROM expl GROUP BY 1, 2
            )
            SELECT label,
                   CAST(round(sum(CAST(mean_val AS DECIMAL(12,6))
                        * CAST(mean_val AS DECIMAL(12,6))), 4) AS DOUBLE)
                       AS centroid_sq_norm,
                   count(*) AS dims
            FROM per_pos GROUP BY label ORDER BY label
        """,
        "text_document_profile": """
            SELECT doc_id, lang,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                       AS tokens,
                   length(regexp_replace(text, '[^\\w]', '', 'g')) AS word_chars,
                   round(length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   length(text) AS chars
            FROM documents ORDER BY doc_id
        """,
        "text_language_profile": """
            WITH scores AS (
                SELECT doc_id, lang,
                       len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|a)\\b')) AS s_en,
                       len(regexp_extract_all(lower(text), '\\b(?:der|die|und|das|ist)\\b')) AS s_de,
                       len(regexp_extract_all(lower(text), '\\b(?:le|la|et|les|des)\\b')) AS s_fr,
                       len(regexp_extract_all(lower(text), '\\b(?:el|la|de|que|los)\\b')) AS s_es
                FROM documents
            ), pred AS (
                SELECT doc_id, lang,
                       CASE
                         WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                         WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                         WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                         WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                         ELSE 'und' END AS pred_lang
                FROM scores
            )
            SELECT lang, pred_lang, count(*) AS cnt
            FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang
        """,
        "text_token_stats": """
            WITH toks AS (
                SELECT source,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                           AS tokens
                FROM documents
            )
            SELECT source, count(*) AS docs,
                   CAST(sum(tokens) AS BIGINT) AS total_tokens,
                   min(tokens) AS min_tokens, max(tokens) AS max_tokens
            FROM toks GROUP BY source ORDER BY source
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(text) AS md5_sig FROM documents ORDER BY doc_id
        """,
        "text_regex_tokens": """
            WITH per_doc AS (
                SELECT lang, length(text) AS chars,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                           AS ws_tokens,
                       len(regexp_extract_all(text,
                           '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+|\\s+'))
                           AS bpe_tokens
                FROM documents
            )
            SELECT lang, count(*) AS docs,
                   CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
                   CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
                   round(sum(chars) / sum(bpe_tokens), 6) AS chars_per_bpe_token
            FROM per_doc GROUP BY lang ORDER BY lang
        """,
        "text_winnow_fingerprint": """
            WITH g AS (
                SELECT doc_id,
                       [CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)
                        FOR i IN range(1, greatest(length(text) - 7, 1) + 1)] AS h
                FROM documents
            ), w AS (
                SELECT doc_id,
                       list_sort(list_distinct(
                           CASE WHEN len(h) >= 4 THEN
                               [list_aggregate(h[j:j+3], 'min')
                                FOR j IN range(1, len(h) - 4 + 2)]
                           ELSE [list_aggregate(h, 'min')] END
                       )) AS fps
                FROM g
            ), e AS (
                SELECT doc_id, unnest(fps) AS fp FROM w
            )
            SELECT doc_id, count(*) AS n_fps, bit_xor(fp) AS fp_xor,
                   min(fp) AS fp_min, max(fp) AS fp_max
            FROM e GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_winnow_pairs": """
            WITH g AS (
                SELECT doc_id,
                       [CAST(('0x' || substr(md5(substr(text, i, 16)), 1, 15)) AS BIGINT)
                        FOR i IN range(1, greatest(length(text) - 15, 1) + 1)] AS h
                FROM documents
            ), wn AS (
                SELECT doc_id,
                       list_sort(list_distinct(
                           CASE WHEN len(h) >= 4 THEN
                               [list_aggregate(h[j:j+3], 'min')
                                FOR j IN range(1, len(h) - 4 + 2)]
                           ELSE [list_aggregate(h, 'min')] END
                       )) AS fps
                FROM g
            ), e AS (
                SELECT doc_id, unnest(fps) AS fp FROM wn
            ), capped AS (
                SELECT doc_id, fp FROM (
                    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS bsz FROM e
                ) WHERE bsz <= 1000
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
            FROM capped a JOIN capped b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
            ORDER BY doc_a, doc_b
        """,
        "text_quality_signals": """
            WITH sig AS (
                SELECT doc_id, lang,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                           AS n_tok,
                       len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                           AS n_distinct,
                       length(regexp_replace(text, '[^\\w]', '', 'g')) AS wc,
                       len(regexp_extract_all(lower(text),
                           '\\b(?:the|and|of|to|a)\\b')) AS stops
                FROM documents
            ), r AS (
                SELECT doc_id, lang, n_tok,
                       round((n_tok - n_distinct) / greatest(n_tok, 1), 6)
                           AS dup_token_frac,
                       round(wc / greatest(n_tok, 1), 6) AS mean_word_len,
                       round(stops / greatest(n_tok, 1), 6) AS stop_frac
                FROM sig
            )
            SELECT doc_id, lang, n_tok, dup_token_frac, mean_word_len, stop_frac,
                   (n_tok >= 10 AND n_tok <= 100000
                    AND mean_word_len >= 2 AND mean_word_len <= 12
                    AND dup_token_frac < 0.6) AS gopher_keep
            FROM r ORDER BY doc_id
        """,
        "text_training_manifest": """
            WITH sig AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                           AS n_tok,
                       len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                           AS n_distinct,
                       length(regexp_replace(text, '[^\\w]', '', 'g')) AS wc
                FROM documents
            ), r AS (
                SELECT doc_id, n_tok,
                       round((n_tok - n_distinct) / greatest(n_tok, 1), 6)
                           AS dup_token_frac,
                       round(wc / greatest(n_tok, 1), 6) AS mean_word_len
                FROM sig
            ), keepf AS (
                SELECT doc_id, n_tok,
                       (n_tok >= 10 AND n_tok <= 100000
                        AND mean_word_len >= 2 AND mean_word_len <= 12
                        AND dup_token_frac < 0.6) AS gopher_keep
                FROM r
            ), canon AS (
                SELECT doc_id, lang, source, length(text) AS chars,
                       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                           AS rn
                FROM documents
            )
            SELECT c.lang, c.source, count(*) AS docs,
                   CAST(sum(k.n_tok) AS BIGINT) AS tokens,
                   CAST(sum(c.chars) AS BIGINT) AS chars
            FROM canon c JOIN keepf k ON c.doc_id = k.doc_id
            WHERE c.rn = 1 AND k.gopher_keep
            GROUP BY c.lang, c.source ORDER BY c.lang, c.source
        """,
        # PII patterns kept to syntax with identical Java-regex /
        # RE2 semantics; DuckDB regexp_replace needs the 'g' flag
        # (Spark's is global by default)
        "text_redact_pii": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_emails,
                   len(regexp_extract_all(text,
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                       AS n_ips,
                   len(regexp_extract_all(text, '[0-9]{9,}')) AS n_longnums,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                       '<IP>', 'g'),
                       '[0-9]{9,}', '<NUM>', 'g')) AS redacted_sig
            FROM documents ORDER BY doc_id
        """,
        "text_stratified_sample": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 10
            ORDER BY doc_id
        """,
        # the shuffle oracle recomputes the md5 permutation address
        # (shard = 15-hex-prefix arithmetic, pos = rank within shard)
        "text_training_shuffle": """
            WITH keyed AS (
                SELECT doc_id,
                       md5('epoch0:' || CAST(doc_id AS VARCHAR))
                           AS shuffle_key
                FROM documents
            )
            SELECT doc_id, shuffle_key,
                   CAST(CAST(('0x' || substr(shuffle_key, 1, 15))
                        AS BIGINT) % 8 AS INT) AS shard,
                   CAST(row_number() OVER (
                       PARTITION BY CAST(('0x' || substr(shuffle_key, 1, 15))
                                    AS BIGINT) % 8
                       ORDER BY shuffle_key, doc_id
                   ) AS INT) AS pos
            FROM keyed
            ORDER BY shard, pos
        """,
        "text_contamination_check": _contamination_sql(n=5, min_shared=3),
        # closed-form independent derivation of the synthesized
        # robots semantics (stronger than re-implementing the window
        # machinery: first-match-wins in file order, allow-before-
        # disallow ordering, cleared prefixes, last crawl-delay wins,
        # unmatched stanza -> allow-all)
        "robots_sitemap_discovery": """
            WITH hosts AS (
                SELECT DISTINCT CAST(o_orderkey % 20 AS INT) AS i FROM orders
            ),
            ads AS (
                SELECT 'd' || CAST(i AS VARCHAR) || '.com' AS host,
                       unnest(CASE
                           WHEN i % 3 = 0 THEN [
                               'https://d' || CAST(i AS VARCHAR)
                                   || '.com/sitemap.xml',
                               'https://cdn.d' || CAST(i AS VARCHAR)
                                   || '.com/s2.xml']
                           WHEN i % 3 = 1 THEN [
                               'https://d' || CAST(i AS VARCHAR)
                                   || '.com/only.xml']
                           ELSE CAST([] AS VARCHAR[])
                       END) AS sitemap_url
                FROM hosts
            )
            SELECT host, sitemap_url FROM ads ORDER BY host, sitemap_url
        """,
        "robots_evaluate": f"""
            WITH {_ROBOTS_VERDICT_CTE}
            SELECT key, host, path, allowed, cdm AS crawl_delay_ms
            FROM v ORDER BY key
        """,
        "text_bm25_rank": """
            WITH tq AS (
                SELECT unnest(['spark', 'window', 'batch']) AS term
            ),
            d AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text),
                                                           '\\s+')) END
                           AS dlen
                FROM documents
            ),
            w AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\\s+')) AS term
                FROM documents
            ),
            wt AS (SELECT w.doc_id, w.term FROM w JOIN tq USING (term)),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM wt GROUP BY 1, 2
            ),
            st AS (
                SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dlen) AS DOUBLE) / count(*) AS avglen
                FROM d
            ),
            dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
            idf AS (
                SELECT term, avglen,
                       CAST(floor(ln((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
                                  * 1e6 + 0.5) AS BIGINT) AS idf_u
                FROM dfq CROSS JOIN st
            ),
            c AS (
                SELECT t.doc_id,
                       i.idf_u * CAST(floor(
                           (t.tf * (1.2 + 1))
                           / (t.tf + 1.2 * (1 - 0.75
                                            + 0.75 * d.dlen / i.avglen))
                           * 1e6 + 0.5) AS BIGINT) AS contrib
                FROM tf t
                JOIN idf i USING (term)
                JOIN d ON t.doc_id = d.doc_id
            ),
            s AS (
                SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS sc
                FROM c GROUP BY doc_id
            )
            SELECT doc_id, CAST(sc AS DOUBLE) / 1e12 AS bm25
            FROM s ORDER BY sc DESC, doc_id LIMIT 25
        """,
        "text_pmi_pairs": """
            WITH w AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\\s+')) AS token
                FROM documents
            ), w2 AS (SELECT * FROM w WHERE token <> ''),
            v0 AS (
                SELECT token, count(DISTINCT doc_id) AS doc_freq,
                       count(*) AS term_freq
                FROM w2 GROUP BY token
            ),
            v AS (
                SELECT token, doc_freq FROM v0
                ORDER BY doc_freq DESC, term_freq DESC, token LIMIT 20
            ),
            t AS (SELECT DISTINCT doc_id, token FROM w2),
            tv AS (
                SELECT t.doc_id, t.token, v.doc_freq
                FROM t JOIN v USING (token)
            ),
            nd AS (SELECT count(*) AS n FROM documents),
            p AS (
                SELECT a.token AS token_a, b.token AS token_b,
                       a.doc_freq AS dfa, b.doc_freq AS dfb,
                       count(*) AS pair_docs
                FROM tv a JOIN tv b
                  ON a.doc_id = b.doc_id AND a.token < b.token
                GROUP BY 1, 2, 3, 4
                HAVING count(*) >= 5
            )
            SELECT token_a, token_b, CAST(pair_docs AS BIGINT) AS pair_docs,
                   CAST(floor(ln(CAST(n * pair_docs AS DOUBLE)
                                 / (dfa * dfb)) * 1e6 + 0.5) AS BIGINT)
                       / 1e6 AS pmi
            FROM p CROSS JOIN nd
            ORDER BY pmi DESC, token_a, token_b
        """,
        "text_tfidf_keywords": """
            WITH w AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\\s+')) AS token
                FROM documents
            ), w2 AS (SELECT * FROM w WHERE token <> ''),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM w2 GROUP BY doc_id, token
            ),
            df AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
            nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            idf AS (
                SELECT token,
                       CAST(floor(ln(n / dfreq) * 1e6 + 0.5) AS BIGINT)
                           AS idf_u
                FROM df CROSS JOIN nd
            ),
            sc AS (
                SELECT t.doc_id, t.token, CAST(t.tf AS BIGINT) AS tf,
                       t.tf * i.idf_u AS score_u
                FROM tf t JOIN idf i USING (token)
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score_u DESC, token
                ) AS rn
                FROM sc
            )
            SELECT doc_id, token, tf,
                   CAST(score_u AS DOUBLE) / 1e6 AS tfidf
            FROM r WHERE rn <= 3
            ORDER BY doc_id, tfidf DESC, token
        """,
        "text_pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text),
                                                           '\\s+')) END
                           AS n_tok
                FROM documents
            ), t2 AS (SELECT * FROM t WHERE n_tok > 0),
            c AS (
                SELECT doc_id, n_tok,
                       sum(n_tok) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS e
                FROM t2
            )
            SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
                   CAST(e - n_tok AS BIGINT) AS start_offset,
                   CAST((e - n_tok) // 256 AS BIGINT) AS first_seq,
                   CAST((e - 1) // 256 AS BIGINT) AS last_seq,
                   CAST((e - n_tok) % 256 AS INT) AS start_in_seq
            FROM c ORDER BY doc_id
        """,
        "text_weighted_sample": """
            WITH b AS (
                SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
                       (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 15)) AS BIGINT)
                        % 1073741824 + 1) / 1073741825.0 AS u
                FROM documents WHERE n_chars > 0
            ), p AS (
                -- micro-unit quantization (floor(x*1e6+0.5)), the
                -- engine-stable discipline round(x, 6) is not
                SELECT doc_id, source, w,
                       CAST(floor((-ln(u) / w) * 1000000 + 0.5)
                            AS BIGINT) AS _priority
                FROM b
            ), r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY _priority, doc_id
                ) AS rn
                FROM p
            )
            SELECT doc_id, source, w, _priority
            FROM r WHERE rn <= 25 ORDER BY source, doc_id
        """,
        "stream_stream_attribution": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   c.user_id,
                   (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 720 MINUTE
            ORDER BY click_id, purchase_id
        """,
        "stream_static_enrich": """
            SELECT c.c_mktsegment AS segment,
                   count(*) AS events,
                   CAST(round(sum(CAST(e.value AS DECIMAL(15,2))), 3)
                        AS DOUBLE) AS total_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1 ORDER BY 1
        """,
        "pipeline_robots_fetch_plan": f"""
            WITH {_ROBOTS_VERDICT_CTE},
            a AS (SELECT key, host, cdm FROM v WHERE allowed),
            r AS (
                SELECT key, host,
                       row_number() OVER (
                           PARTITION BY host ORDER BY key
                       ) AS slot,
                       CASE WHEN cdm >= 0 THEN cdm
                            ELSE CAST(500 AS BIGINT) END AS interval_ms
                FROM a
            )
            SELECT key, host, CAST(slot AS INT) AS slot, interval_ms,
                   CAST((slot - 1) * interval_ms AS BIGINT)
                       AS scheduled_offset_ms
            FROM r ORDER BY key
        """,
        "text_paragraph_dedup": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) <= 4 THEN 1
                            ELSE CAST((len(toks) - 4 + 4 - 1) // 4 AS INT)
                                 + 1 END AS n_chunks
                FROM t
            ), e AS (
                SELECT doc_id, toks, unnest(range(n_chunks)) AS idx FROM c
            ), p AS (
                SELECT doc_id, CAST(idx AS INT) AS para_idx,
                       array_to_string(
                           list_slice(toks, idx*4 + 1, idx*4 + 4), ' '
                       ) AS para_text
                FROM e
            ), f AS (
                SELECT md5(lower(trim(para_text))) AS sig,
                       count(DISTINCT doc_id) AS doc_freq
                FROM p GROUP BY 1
            ), j AS (
                SELECT p.*, f.doc_freq
                FROM p JOIN f ON md5(lower(trim(p.para_text))) = f.sig
            )
            SELECT doc_id, CAST(count(*) AS INT) AS n_paras,
                   CAST(sum(CASE WHEN doc_freq > 2 THEN 1 ELSE 0 END)
                        AS INT) AS n_dropped,
                   coalesce(string_agg(
                       CASE WHEN doc_freq <= 2 THEN para_text END,
                       ' ' ORDER BY para_idx), '') AS clean_text
            FROM j GROUP BY doc_id ORDER BY doc_id
        """,
        "text_duplicate_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       ) AS arr
                FROM documents
            ), posx AS (
                SELECT doc_id, arr,
                       unnest(generate_series(1, len(arr) - 8 + 1)) AS pos
                FROM toks
            ), pos AS (
                SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                       md5(array_to_string(arr[pos:pos+7], ' ')) AS sig
                FROM posx
            ), dup AS (
                SELECT sig FROM pos GROUP BY sig HAVING count(*) >= 2
            ), hits AS (
                SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (sig)
            ), isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos
                            ) <= 7 THEN 0 ELSE 1 END AS newisl
                FROM hits
            ), isl2 AS (
                SELECT doc_id, pos,
                       sum(newisl) OVER (
                           PARTITION BY doc_id ORDER BY pos
                       ) AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, island,
                       min(pos) AS s, max(pos) AS e
                FROM isl2 GROUP BY doc_id, island
            ), per_doc AS (
                SELECT doc_id, CAST(count(*) AS INT) AS dup_spans,
                       CAST(sum(e - s + 8) AS BIGINT) AS dup_tokens
                FROM spans GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(arr) AS BIGINT) AS n_tokens,
                   coalesce(dup_spans, 0) AS dup_spans,
                   CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   CAST(CASE WHEN len(arr) > 0
                        THEN coalesce(dup_tokens, 0) * 1000000 // len(arr)
                        ELSE 0 END AS BIGINT) AS dup_frac_micro
            FROM toks t LEFT JOIN per_doc USING (doc_id)
            ORDER BY doc_id
        """,
        "text_duplicate_trim": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       ) AS arr
                FROM documents
            ), posx AS (
                SELECT doc_id, arr,
                       unnest(generate_series(1, len(arr) - 8 + 1)) AS pos
                FROM toks
            ), pos AS (
                SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                       md5(array_to_string(arr[pos:pos+7], ' ')) AS sig
                FROM posx
            ), dup AS (
                SELECT sig FROM pos GROUP BY sig HAVING count(*) >= 2
            ), hits AS (
                SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (sig)
            ), isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos
                            ) <= 7 THEN 0 ELSE 1 END AS newisl
                FROM hits
            ), isl2 AS (
                SELECT doc_id, pos,
                       sum(newisl) OVER (
                           PARTITION BY doc_id ORDER BY pos
                       ) AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, island,
                       min(pos) AS s, max(pos) AS e
                FROM isl2 GROUP BY doc_id, island
            ), tokv AS (
                SELECT doc_id, CAST(i AS BIGINT) AS i, arr[i] AS tok
                FROM (
                    SELECT doc_id, arr,
                           unnest(generate_series(1, len(arr))) AS i
                    FROM toks
                )
            ), kept AS (
                SELECT v.doc_id, v.i, v.tok
                FROM tokv v
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans s
                    WHERE s.doc_id = v.doc_id
                      AND v.i BETWEEN s.s AND s.e + 7
                )
            )
            SELECT t.doc_id,
                   CAST(len(arr) AS BIGINT) AS n_tokens,
                   CAST(coalesce(k.kept_tokens, 0) AS BIGINT)
                       AS kept_tokens,
                   coalesce(k.clean_text, '') AS clean_text
            FROM toks t
            LEFT JOIN (
                SELECT doc_id, count(*) AS kept_tokens,
                       string_agg(tok, ' ' ORDER BY i) AS clean_text
                FROM kept GROUP BY doc_id
            ) k USING (doc_id)
            ORDER BY t.doc_id
        """,
        "text_repetition_signals": """
            WITH t AS (
                SELECT doc_id, length(text) AS chars,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id, chars,
                       array_to_string(list_slice(toks, i, i + 1), ' ')
                           AS gram
                FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1))
                          AS u(i)
            ), pg AS (
                SELECT doc_id, chars, gram, count(*) AS cnt
                FROM g GROUP BY 1, 2, 3
            ), r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY cnt DESC, gram DESC
                ) AS rn
                FROM pg
            ), a AS (
                SELECT doc_id, CAST(sum(cnt) AS INT) AS n_grams,
                       CAST(count(*) AS INT) AS distinct_grams,
                       round(CAST(sum((cnt - 1) * length(gram)) AS DOUBLE)
                             / greatest(max(chars), 1), 6)
                           AS dup_gram_char_frac,
                       max(chars) AS chars
                FROM pg GROUP BY doc_id
            )
            SELECT a.doc_id, n_grams, distinct_grams, r.gram AS top_gram,
                   round(CAST(r.cnt * length(r.gram) AS DOUBLE)
                         / greatest(a.chars, 1), 6) AS top_gram_char_frac,
                   dup_gram_char_frac
            FROM a JOIN r ON a.doc_id = r.doc_id AND r.rn = 1
            ORDER BY a.doc_id
        """,
        "text_unigram_surprisal": """
            WITH w AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\\s+')) AS word
                FROM documents
            ), w2 AS (SELECT * FROM w WHERE word <> ''),
            v AS (SELECT word, count(*) AS cnt FROM w2 GROUP BY word),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM w2),
            sc AS (
                SELECT word,
                       CAST(round(-log2(cnt / total), 6)
                            AS DECIMAL(18,6)) AS lp
                FROM v CROSS JOIN tot
            ), a AS (
                SELECT doc_id, CAST(count(*) AS INT) AS n_tok,
                       CAST(sum(lp) * 1000000 AS BIGINT) AS sm
                FROM w2 JOIN sc USING (word)
                GROUP BY doc_id
            )
            SELECT doc_id, n_tok,
                   CAST((2 * sm + n_tok) // (2 * n_tok) AS DOUBLE)
                       / 1000000.0 AS mean_surprisal_bits
            FROM a ORDER BY doc_id
        """,
        # add-one bigram LM: p(w2|w1) = (c12 + 1) / (c1 + V); same
        # round-once DECIMAL + integer micro-bit mean discipline as
        # the unigram oracle
        "text_bigram_surprisal": _BIGRAM_SURPRISAL_SQL,
        # stupid backoff: ln only ever over positive integer counts,
        # each quantized once; ln(0.4) enters as the literal -916291
        # (BACKOFF_ALPHA_LN_MICRO) so no engine evaluates it
        "text_backoff_lm": """
            WITH t AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                           lower(trim(text)), '\\s+'),
                           w -> w <> '') AS toks
                FROM documents
            ), tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
            hd AS (SELECT * FROM t WHERE doc_id % 2 <> 0),
            tr_tri AS (
                SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS tri,
                       count(*) AS c123
                FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                      FROM tr)
                GROUP BY tri
            ), tr_bg AS (
                SELECT toks[i] || ' ' || toks[i+1] AS bg, count(*) AS cbg
                FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                      FROM tr)
                GROUP BY bg
            ), tr_uni AS (
                SELECT w, count(*) AS cw
                FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w
            ), tot AS (
                SELECT sum(cw) AS tt, count(*) AS vv FROM tr_uni
            ), pos AS (
                SELECT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           AS tri
                FROM (SELECT doc_id, toks,
                             unnest(range(1, len(toks) - 1)) AS i
                      FROM hd)
            ), need AS (
                SELECT tri,
                       string_split(tri, ' ')[1] AS w1,
                       string_split(tri, ' ')[2] AS w2,
                       string_split(tri, ' ')[3] AS w3
                FROM (SELECT DISTINCT tri FROM pos)
            ), sc AS (
                SELECT n.tri,
                       CASE WHEN tc.c123 IS NOT NULL THEN
                                CAST(floor(ln(tc.c123)*1e6+0.5) AS BIGINT)
                                - CAST(floor(ln(b12.cbg)*1e6+0.5) AS BIGINT)
                            WHEN b23.cbg IS NOT NULL THEN
                                -916291
                                + CAST(floor(ln(b23.cbg)*1e6+0.5) AS BIGINT)
                                - CAST(floor(ln(u2.cw)*1e6+0.5) AS BIGINT)
                            ELSE -1832582
                                + CAST(floor(ln(COALESCE(u3.cw, 0) + 1)
                                             *1e6+0.5) AS BIGINT)
                                - CAST(floor(ln((SELECT tt FROM tot)
                                               + (SELECT vv FROM tot))
                                             *1e6+0.5) AS BIGINT)
                       END AS s_micro
                FROM need n
                LEFT JOIN tr_tri tc ON n.tri = tc.tri
                LEFT JOIN tr_bg b12 ON n.w1 || ' ' || n.w2 = b12.bg
                LEFT JOIN tr_bg b23 ON n.w2 || ' ' || n.w3 = b23.bg
                LEFT JOIN tr_uni u2 ON n.w2 = u2.w
                LEFT JOIN tr_uni u3 ON n.w3 = u3.w
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
                   CAST(-sum(s_micro) AS BIGINT) AS neg_logprob_micro,
                   CAST((-sum(s_micro)) // count(*) AS BIGINT)
                       AS avg_surprisal_micro
            FROM pos JOIN sc USING (tri)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "text_perplexity_buckets": f"""
            WITH scores AS ({_BIGRAM_SURPRISAL_SQL}),
            labeled AS (
                SELECT s.doc_id, d.lang, s.mean_surprisal_bits,
                       ntile(3) OVER (
                           PARTITION BY d.lang
                           ORDER BY s.mean_surprisal_bits, s.doc_id
                       ) AS nt
                FROM scores s JOIN documents d USING (doc_id)
            )
            SELECT doc_id, lang, mean_surprisal_bits,
                   CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM labeled ORDER BY doc_id
        """,
        "text_chunking": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) <= 64 THEN 1
                            ELSE CAST((len(toks) - 64 + 48 - 1) // 48 AS INT)
                                 + 1 END AS n_chunks
                FROM t
            ), e AS (
                SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx
                FROM c
            )
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(len(list_slice(toks, chunk_idx*48 + 1,
                                       chunk_idx*48 + 64)) AS INT)
                       AS n_tokens,
                   array_to_string(list_slice(toks, chunk_idx*48 + 1,
                                              chunk_idx*48 + 64), ' ')
                       AS chunk_text
            FROM e ORDER BY doc_id, chunk_idx
        """,
        "text_mixture_plan": """
            WITH avail AS (
                SELECT source, count(*) AS docs,
                       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text),
                                                               '\\s+')) END)
                            AS BIGINT) AS available_tokens
                FROM documents GROUP BY source
            ), w AS (
                SELECT source, CAST(length(source) % 3 + 1 AS DOUBLE) AS weight
                FROM (SELECT DISTINCT source FROM documents)
            ), wt AS (SELECT sum(weight) AS _wt FROM w),
            j AS (
                SELECT source, coalesce(a.docs, 0) AS docs,
                       coalesce(a.available_tokens, 0) AS available_tokens,
                       coalesce(w.weight, 0) AS weight, wt._wt
                FROM avail a FULL JOIN w USING (source) CROSS JOIN wt
            ), t AS (
                SELECT *, CAST(floor(25000.0 * weight / _wt) AS BIGINT)
                              AS target_tokens
                FROM j
            )
            SELECT source, docs, available_tokens,
                   round(weight, 6) AS weight, target_tokens,
                   round(CASE WHEN available_tokens = 0 THEN 0.0
                         ELSE least(1.0, target_tokens
                                    / greatest(available_tokens, 1)) END, 6)
                       AS sampling_rate,
                   least(target_tokens, available_tokens) AS expected_tokens
            FROM t ORDER BY source
        """,
        "text_vocabulary": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                           AS token
                FROM documents
            ), f AS (SELECT * FROM toks WHERE token <> '')
            SELECT token, count(DISTINCT doc_id) AS doc_freq,
                   count(*) AS term_freq
            FROM f GROUP BY token
            ORDER BY doc_freq DESC, term_freq DESC, token ASC LIMIT 100
        """,
    }
