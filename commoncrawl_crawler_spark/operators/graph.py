"""Link-graph operators: edge emit, inverse links, PageRank, components.

Reference surface (SURVEY.md section 2.9):
- LinkGraphDataEmitter (mapred/ec2/postprocess/crawldb/
  LinkGraphDataEmitter.java:50,100-160): parse records -> typed edge
  rows. Here: `select`/`unionByName`/`distinct` over the fact table.
- InverseLinkDBWriterV3 (mapred/pipelineV1/InverseLinkDBWriterV3.java:69):
  invert outlinks -> per-target inlink lists with sample caps. Here:
  `groupBy(dst).agg(collect_set ... slice)`.
- PageRank BSP service (service/pagerank/slave/PageRankUtils.java:
  2332-2531): scatter rank/outdeg, gather with damping
  `0.15 + 0.85 * sum` (finalizePageRank :300-313) and optional
  per-root-domain source *averaging* (anti-nepotism, :2438-2500).
  Here: an iterative DataFrame loop with stable_checkpoint() to
  truncate lineage (reliable checkpoint when
  SPARK_GRAFT_CHECKPOINT_DIR points at HDFS/S3, localCheckpoint
  otherwise) -- the 6,619-LoC custom BSP engine collapses into
  joins + aggregations Catalyst plans per iteration.
- SetUnionFinder (mapred/ec2/postprocess/deduper/DeduperUtils.java:
  728-917): connected components via union-find. Here: min-label
  propagation to a fixpoint.
- GenerateRankReducer (mapred/pipelineV3/domainmeta/rank/
  GenDomainRankStep.java:56-110): closed-form domain rank over
  same-root vs cross-root inlink counts.
- IdSuperDomainsStep (mapred/pipelineV3/domainmeta/rank/
  IdSuperDomainsStep.java:53-112): mega-domain detection for skew
  handling -> broadcast set.

Scale posture: edges/ranks shuffle on node id only; every iteration
is one shuffle (join on src is co-partitioned with the prior
iteration's output under AQE); stable_checkpoint() bounds plan growth
so iteration 20 plans as cheaply as iteration 1. The synthetic
"root domain" of a node is `node % 97` (stand-in for
rootDomainHash; the reference derives it from eTLD+1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpointing import ckpt_eager, ckpt_lazy, stable_checkpoint
from ..loopscope import known_rows, small_state_scope
ROOT_MOD = 97  # synthetic rootDomainHash: node % ROOT_MOD
PART_OFFSET = 1_000_000  # part node ids live in their own id space
SAMPLE_CAP = 100  # CrawlDBMergingReducer.java:94 truncation cap


def root_of(col):
    """Synthetic root-domain of a node id (URLUtils.java:737 analog)."""
    return col % ROOT_MOD


def link_graph_edges(lineitem: DataFrame) -> DataFrame:
    """Typed, deduped edge table derived from the fact table.

    Mirrors LinkGraphDataEmitter: every source record row becomes
    typed edges; forward `supplies` edges supplier->part, plus
    `returns` back-edges part->supplier for first line numbers so the
    graph has cycles (the real link graph is cyclic).
    """
    fwd = lineitem.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PART_OFFSET).alias("dst"),
        F.lit("supplies").alias("link_type"),
    )
    back = lineitem.filter(F.col("l_linenumber") == 1).select(
        (F.col("l_partkey") + PART_OFFSET).alias("src"),
        F.col("l_suppkey").alias("dst"),
        F.lit("returns").alias("link_type"),
    )
    return fwd.unionByName(back).distinct()


def graph_nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def inverse_links(edges: DataFrame) -> DataFrame:
    """Per-target inlink summary with a capped, sorted source sample.

    InverseLinkDBWriterV3.java:69,361-757 built this as a 2-phase
    custom-comparator MapReduce; one groupBy suffices. The sample is
    capped DURING collection (as CrawlDBMergingReducer.java:94 caps
    externally-referenced URLs): a row_number window on the same dst
    key marks the SAMPLE_CAP smallest sources, and collect_list keeps
    only those, so the aggregation buffer is bounded at SAMPLE_CAP
    entries even for a 10M-inlink mega-target -- a post-hoc
    sort_array(collect_set(...)) would buffer the full source set on
    exactly the skewed keys that matter at 100 TB. Null sources are
    dropped up front (a null edge is not an inlink, and excluding it
    keeps count(1)-over-distinct == countDistinct(src)). One explicit
    repartition(dst) feeds dedup, window, and groupBy: hash
    partitioning on dst satisfies the clustering requirement of all
    three, so the plan carries a single exchange.
    """
    from pyspark.sql import Window

    distinct = (
        edges.select("dst", "src")
        .filter(F.col("src").isNotNull())
        .repartition("dst")
        .distinct()
    )
    w = Window.partitionBy("dst").orderBy("src")
    ranked = distinct.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("dst")
        .agg(
            F.count(F.lit(1)).alias("inlink_count"),
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rn") <= SAMPLE_CAP, F.col("src"))
                    )
                ),
            ).alias("src_sample"),
        )
        .orderBy("dst")
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Out/in degree per node in one shuffle (union then aggregate)."""
    tagged = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("outd"), F.lit(0).alias("ind")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("outd"), F.lit(1).alias("ind")
        )
    )
    return (
        tagged.groupBy("node")
        .agg(F.sum("outd").alias("out_degree"), F.sum("ind").alias("in_degree"))
        .orderBy("node")
    )


RANK_SCALE = 1_000_000  # fixed-point rank scale (1.0 == 1e6)


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Iterative PageRank: rank = 0.15 + 0.85 * sum(in contributions).

    PageRankUtils.java:300-313 (finalizePageRank). No dangling-mass
    redistribution -- the reference doesn't do it either.

    Ranks are fixed-point bigints (RANK_SCALE = 1e6) with truncating
    division, so every iteration is exact integer arithmetic: the
    result is bit-identical regardless of partitioning, summation
    order, or engine -- float PageRank is not reproducible across
    cluster layouts, fixed-point is. Quantization error per step is
    < out_cnt / RANK_SCALE, i.e. < 1e-3 even for 1000-outlink hubs.

    Scale: one join+agg per iteration; ranks are checkpointed each
    iteration (plan/lineage truncation) -- reliable on HDFS/S3 when
    SPARK_GRAFT_CHECKPOINT_DIR is set (checkpointing.py), local
    otherwise.
    """
    return pagerank_fixed_point(edges, iterations, damp_num, damp_den).select(
        "node", F.round(F.col("rank_i") / RANK_SCALE, 6).alias("rank")
    ).orderBy("node")


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """`pagerank`'s loop: (node, rank_i) with the fixed-point bigint
    rank, in no particular order. For consumers that re-rank the
    nodes themselves (webgraph.ranks) and would discard the sort."""
    base_i = (damp_den - damp_num) * RANK_SCALE // damp_den  # 0.15
    # loop-state shuffles sized to the DATA, not the session's core
    # count (r10-opt: lazy localCheckpoint compiles -- and captures
    # the session conf of -- its physical plan at definition time, so
    # the scope binds every iteration here; no-op when the edge count
    # is unknown or large)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        # checkpoint the loop-invariant tables once: without this every
        # iteration replays the source scan + distinct + degree join
        nodes = graph_nodes(edges).transform(ckpt_lazy)
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
        # fuse static per-edge divisor once: contribution = rank(src)/out_cnt(src).
        # A zero-contribution self row per node (out_cnt = 2^62, so
        # rank_i DIV out_cnt == 0 for any reachable rank) makes the
        # per-step groupBy('dst') cover EVERY node, which removes the
        # left join that only re-attached zero-in-degree nodes -- one
        # join + its exchanges gone from every iteration, exact integer
        # results unchanged (r9-opt wave 5, guide 2.4: remove shuffles
        # outright; A/B 17.4 -> 9.5 s on the converged loop, ranks
        # bit-identical).
        edge_w = (
            edges.join(out_deg, "src")
            .select("src", "dst", "out_cnt")
            .unionByName(_self_rows(nodes))
            .transform(ckpt_lazy)
        )

        ranks = nodes.withColumn("rank_i", F.lit(RANK_SCALE).cast("long"))
        for _ in range(iterations):
            ranks = (
                edge_w.join(ranks, edge_w["src"] == ranks["node"])
                .groupBy("dst")
                .agg(F.sum(F.expr("rank_i DIV out_cnt")).alias("recv"))
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(base_i).cast("long")
                        + F.expr(f"(recv * {damp_num}) DIV {damp_den}")
                    ).alias("rank_i"),
                )
                .transform(ckpt_lazy)
            )
    return ranks


def _self_rows(nodes: DataFrame) -> DataFrame:
    """One (node, node, 2^62) row per node: joins like an edge, but
    `rank DIV 2^62` contributes exactly 0 for any fixed-point rank
    (total mass is far below 2^62), so a groupBy over the augmented
    edge table yields one row for EVERY node -- including zero-in-
    degree nodes -- without a separate left join per iteration. The
    self row also lets a step read the node's own previous state:
    `max(when(src == dst, <state>))` (a real (n, n) data edge may
    match too, but it carries the same node's state, so the max is
    unchanged)."""
    return nodes.select(
        F.col("node").alias("src"),
        F.col("node").alias("dst"),
        F.lit(1 << 62).alias("out_cnt"),
    )


def pagerank_converged(
    edges: DataFrame,
    epsilon: float = 0.01,
    damp_num: int = 50,
    damp_den: int = 100,
    max_iterations: int = 30,
    steps_per_check: int = 2,
) -> DataFrame:
    """PageRank run TO CONVERGENCE instead of a fixed iteration count,
    matching the reference's iterate-with-checkpoints-until-done loop
    (service/pagerank/slave/PageRankUtils.java:120-143).

    Termination uses the same mechanism as _star_contraction: an
    Observation on each iteration's own materialization job computes
    max|rank_t - rank_{t-1}| (exact fixed-point bigint delta, so the
    stopping decision is deterministic under any partitioning/engine);
    the loop stops when the delta falls to epsilon * RANK_SCALE or
    below -- ZERO extra actions per iteration beyond the checkpoint
    the loop already runs. `steps_per_check` batches that many rank
    updates into ONE checkpoint job (the delta is observed on the
    batch's last step), trading slightly-late stopping for half (or
    1/k) the job-scheduling overhead -- the reported iteration count
    is always a multiple of steps_per_check, and the oracle mirrors
    exactly that stopping rule. The iteration count is data-driven;
    `pagerank_converged.last_iterations` records it and every output
    row carries it for auditability.

    Same fixed-point discipline and loop-invariant checkpointed edge
    table as `pagerank`. PageRank contracts in L1 by the damping
    factor per iteration, so max-delta convergence within
    max_iterations is guaranteed for damp <= 1/2 when
    max_iterations >= log2(n_nodes * RANK_SCALE / eps_i).
    """
    from pyspark.sql import Observation

    eps_i = int(epsilon * RANK_SCALE)
    base_i = (damp_den - damp_num) * RANK_SCALE // damp_den
    if max_iterations % steps_per_check:
        raise ValueError("max_iterations must be a steps_per_check multiple")
    # loop-state shuffles sized to the DATA (r10-opt): the
    # per-batch eager-checkpoint jobs here are the round-9 driver's
    # slowest gate, and their cost is per-stage scheduling + adaptive
    # re-planning latency, not compute -- see loopscope docstring
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        nodes = graph_nodes(edges).transform(ckpt_lazy)
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
        # self rows (see _self_rows): the groupBy covers every node and
        # carries the node's own previous rank, removing the per-step
        # left join (r9-opt wave 5; exact results unchanged)
        edge_w = (
            edges.join(out_deg, "src")
            .select("src", "dst", "out_cnt")
            .unionByName(_self_rows(nodes))
            .transform(ckpt_lazy)
        )

        def _step(r: DataFrame) -> DataFrame:
            return (
                edge_w.join(r, edge_w["src"] == r["node"])
                .groupBy("dst")
                .agg(
                    F.sum(F.expr("rank_i DIV out_cnt")).alias("recv"),
                    F.max(
                        F.when(F.col("src") == F.col("dst"), F.col("rank_i"))
                    ).alias("_prev"),
                )
                .select(
                    F.col("dst").alias("node"),
                    F.col("_prev").alias("_prev_i"),
                    (
                        F.lit(base_i).cast("long")
                        + F.expr(f"(recv * {damp_num}) DIV {damp_den}")
                    ).alias("rank_i"),
                )
            )

        ranks = nodes.withColumn("rank_i", F.lit(RANK_SCALE).cast("long"))
        iterations = 0
        for _ in range(max_iterations // steps_per_check):
            batch = ranks
            for _s in range(steps_per_check):
                batch = _step(batch.select("node", "rank_i"))
            obs = Observation()
            ranks = (
                batch.observe(
                    obs,
                    # delta of the batch's LAST step only -- the stopping
                    # rule the oracle mirrors (first multiple of
                    # steps_per_check whose delta is <= eps)
                    F.max(F.abs(F.col("rank_i") - F.col("_prev_i"))).alias(
                        "delta"
                    ),
                )
                .select("node", "rank_i")
                .transform(ckpt_eager)
            )
            iterations += steps_per_check
            delta = obs.get["delta"]
            # None = empty node set (vacuously converged)
            if delta is None or delta <= eps_i:
                break
    pagerank_converged.last_iterations = iterations
    return (
        ranks.select(
            "node",
            F.round(F.col("rank_i") / RANK_SCALE, 6).alias("rank"),
            F.lit(iterations).cast("int").alias("iterations"),
        )
        .orderBy("node")
    )


def pagerank_root_averaged(
    edges: DataFrame,
    super_roots: DataFrame | None = None,
    iterations: int = 2,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """PageRank with per-root-domain source averaging (anti-nepotism).

    PageRankUtils.java:2438-2500: contributions from sources that
    share a root domain are *averaged*, not summed, before the
    cross-root sum -- unless the root is a designated super-domain
    (blogspot-like), which keeps plain summation. `super_roots` is a
    small DataFrame(root) broadcast into the loop. Same fixed-point
    discipline as `pagerank` (the average is a truncating sum/count).
    """
    base_i = (damp_den - damp_num) * RANK_SCALE // damp_den
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        nodes = graph_nodes(edges).transform(ckpt_lazy)
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
        edge_w = edges.join(out_deg, "src").select(
            "src", "dst", "out_cnt", root_of(F.col("src")).alias("src_root")
        )
        if super_roots is not None:
            edge_w = edge_w.join(
                F.broadcast(super_roots.select(F.col("root").alias("src_root"))
                            .withColumn("is_super", F.lit(True))),
                "src_root",
                "left",
            ).withColumn("is_super", F.coalesce(F.col("is_super"), F.lit(False)))
        else:
            edge_w = edge_w.withColumn("is_super", F.lit(False))
        # self rows (see _self_rows) put every node in the per-step
        # groupBys, removing the left join per iteration. `is_self` is a
        # GROUPING key so a self row can never merge into (and change the
        # averaging divisor of) a real (dst, src_root) group; its own
        # group contributes ssum DIV cnt = 0 DIV 1 = 0 (r9-opt wave 5,
        # exact results unchanged).
        edge_w = (
            edge_w.withColumn("is_self", F.lit(False))
            .unionByName(
                nodes.select(
                    F.col("node").alias("src"),
                    F.col("node").alias("dst"),
                    F.lit(1 << 62).alias("out_cnt"),
                    F.lit(None).cast("string").alias("src_root"),
                    F.lit(False).alias("is_super"),
                    F.lit(True).alias("is_self"),
                )
            )
            # loop-invariant: materialize once, not once per iteration
            .transform(ckpt_lazy)
        )

        ranks = nodes.withColumn("rank_i", F.lit(RANK_SCALE).cast("long"))
        for _ in range(iterations):
            per_root = (
                edge_w.join(ranks, edge_w["src"] == ranks["node"])
                .withColumn("contrib", F.expr("rank_i DIV out_cnt"))
                .groupBy("dst", "src_root", "is_super", "is_self")
                .agg(
                    F.sum("contrib").alias("ssum"),
                    F.count(F.lit(1)).alias("cnt"),
                )
            )
            contribs = per_root.groupBy("dst").agg(
                F.sum(
                    F.when(F.col("is_super"), F.col("ssum")).otherwise(
                        F.expr("ssum DIV cnt")
                    )
                ).alias("recv")
            )
            ranks = contribs.select(
                F.col("dst").alias("node"),
                (
                    F.lit(base_i).cast("long")
                    + F.expr(f"(recv * {damp_num}) DIV {damp_den}")
                ).alias("rank_i"),
            ).transform(ckpt_lazy)
    return ranks.select(
        "node", F.round(F.col("rank_i") / RANK_SCALE, 6).alias("rank")
    ).orderBy("node")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: connect every strictly-larger neighbor of u to the
    minimum of u's closed neighborhood. Output edges are (larger ->
    smaller) by construction."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    )
    # no distinct here: small_star (always applied next) dedups its
    # own output, and its min-aggregate is duplicate-insensitive -- a
    # distinct would spend a full shuffle per round to shrink an
    # intermediate the next aggregate absorbs anyway
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: within each node's smaller-or-equal neighborhood,
    rewire every member (and the node itself) to the minimum."""
    d = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    m = d.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        d.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(m.select("src", F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_contraction(
    edges: DataFrame, max_iterations: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond'): converges in
    O(log n) rounds regardless of graph diameter, vs O(diameter) for
    min-label propagation -- the difference between 5 and 500 rounds
    on long-chain link graphs at 100x scale.

    Convergence detection is folded into each round's own
    materialization job via an Observation (row count + order-
    independent xxhash64 sum): when the edge-set fingerprint repeats,
    the star graph is a fixpoint -- no separate comparison job.

    Returns (star_edges, rounds): star_edges point every non-root
    node at its component minimum.
    """
    from pyspark.sql import Observation

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        e = (
            edges.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
            .transform(ckpt_eager)
        )
        prev_sig = None
        rounds = 0
        for _ in range(max_iterations):
            obs = Observation()
            e = (
                _small_star(_large_star(e))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    # decimal(38,0) sum: ANSI-safe (a long sum of 64-bit
                    # hashes overflows), order-independent, exact
                    F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
                )
                .transform(ckpt_eager)
            )
            rounds += 1
            sig = (obs.get["n"], obs.get["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
    return e, rounds


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Undirected connected components; labels are component minima.

    The reference merges overlapping match sets with an in-memory
    union-find (SetUnionFinder, DeduperUtils.java:728-917); the
    distributed equivalent here is large-star/small-star contraction
    (see _star_contraction) rather than min-label propagation, so
    rounds scale with log(n), not graph diameter. Returns
    (node, comp); singletons (nodes with no surviving edge) label
    themselves.
    """
    stars, rounds = _star_contraction(edges, max_iterations)
    connected_components.last_rounds = rounds
    # at fixpoint each non-root has exactly one star edge; the min()
    # is a safety net for a max_iterations bailout, not a real reduce
    parents = stars.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("parent")
    )
    return (
        graph_nodes(edges)
        .join(parents, "node", "left")
        .select("node", F.coalesce("parent", F.col("node")).alias("comp"))
        .orderBy("node")
    )


def component_sizes(labels: DataFrame) -> DataFrame:
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("comp")
    )


def domain_rank(edges: DataFrame) -> DataFrame:
    """Closed-form domain rank from same-root vs cross-root inlinks.

    GenDomainRankStep.java:56-110 (GenerateRankReducer):
    rank = min(sqrt((ln(same)*0.2)^2 + ln(diff)^2), 14) / 14 * 10
    over *deduped* inlink edges, where `same` counts inlinks whose
    source shares the target's root domain. ln(x+1) guards empty
    counts (the reference skips zero groups; +1 keeps totality).
    """
    e = edges.select(
        "src",
        "dst",
        (root_of(F.col("src")) == root_of(F.col("dst"))).alias("same_root"),
    ).distinct()
    counts = e.groupBy("dst").agg(
        F.sum(F.when(F.col("same_root"), 1).otherwise(0)).alias("same_cnt"),
        F.sum(F.when(F.col("same_root"), 0).otherwise(1)).alias("diff_cnt"),
    )
    score = F.sqrt(
        F.pow(F.log(F.col("same_cnt") + 1) * 0.2, 2)
        + F.pow(F.log(F.col("diff_cnt") + 1), 2)
    )
    return counts.select(
        "dst",
        "same_cnt",
        "diff_cnt",
        F.round(F.least(score, F.lit(14.0)) / 14.0 * 10.0, 6).alias("domain_rank"),
    ).orderBy("dst")


def super_domains(edges: DataFrame, threshold: int = 25) -> DataFrame:
    """Roots owning more than `threshold` distinct nodes -> skew set.

    IdSuperDomainsStep.java:53-112 / GenSuperDomainListStep.java:47:
    identify mega-domains whose subdomain fan-out would skew any
    root-domain-keyed shuffle; downstream these keep subdomain-level
    partition keys (PartitionUtils.java:60-85) -- in Spark terms, the
    salting list. The output is small by construction: broadcast it.
    """
    return (
        graph_nodes(edges)
        .select(root_of(F.col("node")).alias("root"), F.col("node"))
        .groupBy("root")
        .agg(F.countDistinct("node").alias("node_count"))
        .filter(F.col("node_count") > threshold)
        .orderBy("root")
    )


def hits_scores(
    edges: DataFrame, iterations: int = 2, rescale_bits: int = 0
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) for a FIXED iteration
    count in exact integer arithmetic: starting from all-ones,
    auth_{i+1}(v) = sum of hub_i over in-neighbors and
    hub_{i+1}(v) = sum of auth_{i+1} over out-neighbors. Skipping the
    per-iteration norm keeps every score an exact bigint -- the
    RANKING is identical to normalized HITS (normalization is a
    positive scalar per iteration), and exactness makes the result
    bit-stable under any partitioning/engine, the same fixed-point
    discipline as the PageRank tier. Normalize downstream if absolute
    scores are needed.

    Overflow bound: unnormalized scores grow by at most
    (max_in_degree x max_out_degree) per full iteration, so they fit
    bigint while 2 * iterations * log2(max_degree) < 63 -- e.g. 4
    iterations are safe up to ~250k-degree hubs, 2 iterations to
    ~2e9. The engine's sessions run ANSI mode (Spark 4 default,
    session.py), so exceeding the bound RAISES an arithmetic-overflow
    error rather than silently wrapping. For deeper iteration counts
    on hub-heavy graphs pass `rescale_bits` > 0: both vectors are
    integer-right-shifted by that many bits between iterations (a
    shared positive scale, so the ranking is preserved except where
    floor-division merges near-ties -- document as approximate when
    used).

    One join+groupBy pair per iteration over the (deduped) edge set;
    the edge table should be checkpointed by the caller when iterated
    many times (see pagerank). Returns (node, auth, hub).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        # e is referenced 2x per iteration and nodes 2x per iteration plus
        # once up front; without a boundary Catalyst re-plans (and the
        # runtime re-executes) the scan+distinct per reference (r9-opt:
        # the same multiply-referenced-subplan fix as triangle_counts)
        e = edges.select("src", "dst").distinct().transform(ckpt_lazy)
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .transform(ckpt_lazy)
        )
        # weight-0 self rows make each half-step's groupBy cover every
        # node (sum(score * w) adds exactly 0 for them), removing the
        # per-half-step left join that re-attached isolated-side nodes
        # (r9-opt wave 5, same discipline as the pagerank self rows;
        # exact integer results unchanged)
        ew = (
            e.withColumn("w", F.lit(1).cast("bigint"))
            .unionByName(
                nodes.select(
                    F.col("node").alias("src"),
                    F.col("node").alias("dst"),
                    F.lit(0).cast("bigint").alias("w"),
                )
            )
            .transform(ckpt_lazy)
        )
        hub = nodes.withColumn("hub", F.lit(1).cast("bigint"))
        auth = None
        for _ in range(iterations):
            auth = (
                ew.join(hub, ew["src"] == hub["node"])
                .groupBy("dst")
                .agg(F.sum(F.col("hub") * F.col("w")).alias("auth"))
                .select(F.col("dst").alias("node"), "auth")
            )
            hub = (
                ew.join(auth, ew["dst"] == auth["node"])
                .groupBy("src")
                .agg(F.sum(F.col("auth") * F.col("w")).alias("hub"))
                .select(F.col("src").alias("node"), "hub")
            )
            if rescale_bits > 0:
                auth = auth.select(
                    "node", F.shiftright("auth", rescale_bits).alias("auth")
                )
                hub = hub.select(
                    "node", F.shiftright("hub", rescale_bits).alias("hub")
                )
    # auth and hub each already carry every node (the weight-0 self
    # rows in ew put every node in each half-step's groupBy), so
    # joining them directly avoids a redundant third join
    return auth.join(hub, "node").select("node", "auth", "hub").orderBy(
        "node"
    )


def triangle_counts(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Per-node triangle participation + the global triangle count --
    the standard community/spam-farm signal over a link graph.

    Compact-forward algorithm: orient each undirected edge from the
    lower to the higher node id, join oriented edges head-to-tail for
    wedges (a<b<c via a->b, b->c), then close each wedge against the
    oriented edge a->c. Every triangle is found exactly once. Two
    equi-joins over the oriented edge set; wedge volume is
    sum(deg^2), so `max_degree` (when set) drops hub nodes FIRST --
    the standard truncated-triangle discipline for power-law graphs
    (hubs dominate wedge volume but their triangle counts saturate).

    Returns (node, triangles) for every node in at least one
    triangle, plus the caller can sum(triangles)/3 for the global
    count.
    """
    und = _canonical_undirected(edges)
    if max_degree is not None:
        deg = (
            und.select(F.col("a").alias("n"))
            .unionByName(und.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") <= max_degree)
            .select("n")
            # probed by both endpoint joins -- share the degree rollup
            .transform(ckpt_lazy)
        )
        und = und.join(
            deg.withColumnRenamed("n", "a"), "a"
        ).join(deg.withColumnRenamed("n", "b"), "b").select("a", "b")
    return _triangles_per_node(und)


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _triangles_per_node(und: DataFrame) -> DataFrame:
    """Wedge-close over an ALREADY canonical (a<b, distinct)
    undirected edge set."""
    # the canonical edge set is referenced three times (e1/e2/e3); a
    # lazy RDD boundary computes its distinct shuffle once and shares
    # it across all three join branches without adding a job (r9-opt:
    # graph_triangles ~6.6s -> ~5.4s, graph_clustering_coeff ~4.5s ->
    # ~2.7s at sf0.1; at scale it pins the corpus-size distinct to
    # exactly one execution instead of relying on AQE stage reuse)
    und = und.transform(ckpt_lazy)
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return per_node.orderBy("node")


def clustering_coefficients(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Local clustering coefficient per node: 2*triangles / (d*(d-1))
    over the (optionally degree-truncated) undirected simple graph --
    the per-node community-density signal that separates organic link
    neighborhoods from spam farms (whose coefficient approaches 1).

    Degrees and triangles both come from the SAME truncated graph, so
    the ratio is well-defined. The coefficient is an exact rational
    of bigints quantized via floor(x*1e6+0.5) -- engine- and
    partitioning-exact. Nodes with d < 2 have no possible triangle
    and emit coefficient 0.
    """
    # shared by the degree rollup and the triangle join tree below
    und = _canonical_undirected(edges).transform(ckpt_lazy)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    if max_degree is not None:
        deg = deg.filter(F.col("degree") <= max_degree)
        # probed by both endpoint joins -- share the degree rollup
        kept = deg.select("node").transform(ckpt_lazy)
        und = (
            und.join(kept.withColumnRenamed("node", "a"), "a")
            .join(kept.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            # the truncated edge set is likewise multiply referenced
            # (degree recompute + three triangle branches)
            .transform(ckpt_lazy)
        )
        # degrees recompute on the truncated graph so the ratio's
        # denominator matches the graph the triangles came from
        deg = (
            und.select(F.col("a").alias("node"))
            .unionByName(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
    # und is already canonical -- skip triangle_counts' re-
    # canonicalize+distinct shuffle over the same data
    tri = _triangles_per_node(und)
    coeff = F.when(
        F.col("degree") >= 2,
        F.floor(
            (2.0 * F.coalesce(F.col("triangles"), F.lit(0)))
            / (F.col("degree") * (F.col("degree") - 1))
            * 1e6
            + 0.5
        ).cast("bigint")
        .cast("double")
        / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            coeff.alias("coefficient"),
        )
        .orderBy("node")
    )


def k_core(
    edges: DataFrame, k: int = 3, max_iterations: int = 30
) -> DataFrame:
    """k-core subgraph membership by iterative peeling: repeatedly
    drop nodes whose undirected degree falls below k until the
    surviving subgraph is stable. The standard spam-farm / dense-
    community extraction over link graphs (Batagelj-Zaversnik
    semantics, distributed as monotone peeling rounds).

    Termination reuses the _star_contraction discipline: the
    surviving-edge count is observed on each round's own
    localCheckpoint job (peeling is monotone, so an unchanged edge
    count IS the fixpoint), costing zero extra actions. Because
    peeling is also idempotent, a fixed-round unroll past the
    fixpoint is a no-op -- which is exactly how the SQL oracle
    mirrors the data-driven stop without a stopping rule.

    Scale shape: each round is one partial-agg degree groupBy plus
    two semi-join-shaped equi-joins over a strictly shrinking edge
    table, checkpointed to keep lineage flat; rounds are bounded by
    the peeling depth (small for power-law link graphs), not by
    graph diameter.

    Returns (node, degree) for k-core members, degree measured
    inside the k-core.
    """
    from pyspark.sql import Observation

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        fwd = edges.select("src", "dst")
        sym = (
            fwd.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
            .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
            .transform(ckpt_eager)
        )
        alive = sym
        prev_n = None
        rounds = 0
        for _ in range(max_iterations):
            keep = (
                alive.groupBy("node")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .filter(F.col("_deg") >= k)
                .select("node")
            )
            obs = Observation()
            alive = (
                alive.join(keep, "node")
                .join(keep.withColumnRenamed("node", "nbr"), "nbr")
                .select("node", "nbr")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .transform(ckpt_eager)
            )
            rounds += 1
            n = obs.get["n"]
            if n == prev_n:
                break
            prev_n = n
    k_core.last_rounds = rounds
    return (
        alive.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .orderBy("node")
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert, Kumara: Phys. Rev. E 76, 036106, 2007) -- the near-linear
    community algorithm every web-graph pipeline reaches for first
    (spam-farm and mirror-cluster detection over host graphs).

    Deterministic variant: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors with the
    tie broken to the SMALLEST label (the paper breaks ties uniformly
    at random -- fine for one machine, irreproducible on a cluster;
    argmax by (count desc, label asc) is a total order, so the
    trajectory is bit-identical under any partitioning or engine).
    Synchronous updates with a fixed round count, not async-until-
    stable: async depends on visit order, and sync LPA can 2-cycle on
    bipartite stars, so run-to-fixpoint is not well-defined.

    Per round: one join (neighbor labels onto the symmetric edge
    table) + one count groupBy + one max_by groupBy -- all partial-
    aggregating, labels checkpointed per round exactly like the
    pagerank loop. The symmetric edge table is loop-invariant and
    checkpointed once.
    """
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        und = (
            edges.select("src", "dst")
            .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(ckpt_lazy)
        )
        nodes = und.select(F.col("src").alias("node")).distinct().transform(ckpt_lazy)
        labels = nodes.select("node", F.col("node").alias("label"))
        for _ in range(iterations):
            neigh = und.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("v"), "label")
            counts = neigh.groupBy("v", "label").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            # argmax (cnt desc, label asc): max of struct(cnt, -label);
            # node ids are non-negative so -label cannot overflow
            new = counts.groupBy("v").agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")))
                ).alias("label")
            )
            # `new` covers the node set exactly: every node is a src of
            # the symmetric, self-loop-free edge table, so each has >= 1
            # neighbor row and one argmax group. The former left join
            # against `nodes` only re-attached rows that cannot be
            # missing -- dropped (r9-opt wave 5, results unchanged).
            labels = new.select(
                F.col("v").alias("node"), "label"
            ).transform(ckpt_lazy)
    return labels.select(
        "node", F.col("label").alias("community")
    ).orderBy("node")


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport mass returns
    ONLY to the seed set (Haveliwala WWW'02), so ranks measure
    proximity to the seeds -- trusted-host distance (TrustRank-style
    spam demotion), topic crawl prioritization, related-host lookup.
    The reference's PageRank tier is global-only
    (PageRankUtils.java:300-313); this is the standard seeded variant
    over the same fixed-point machinery.

    Same exact-bigint discipline as graph.pagerank: seeds start at
    RANK_SCALE and non-seeds at 0, each round adds the (1-d) restart
    ONLY on seed rows, contributions divide truncating -- every rank
    is bit-identical under any partitioning or engine. The seed flag
    is one broadcast-size join on the loop-invariant node table.

    seeds: a (node) DataFrame; rows not present in the graph are
    ignored.
    """
    base_i = (damp_den - damp_num) * RANK_SCALE // damp_den
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        nodes = (
            graph_nodes(edges)
            .join(
                seeds.select(F.col("node").alias("_s")).distinct(),
                F.col("node") == F.col("_s"),
                "left",
            )
            .select("node", F.col("_s").isNotNull().alias("is_seed"))
            .transform(ckpt_lazy)
        )
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
        # self rows (see _self_rows), here additionally carrying the
        # dst node's loop-invariant seed flag (real edge rows carry NULL,
        # so max() reads it back per group): removes the per-step left
        # join against the node table (r9-opt wave 5, results unchanged)
        edge_w = (
            edges.join(out_deg, "src")
            .select(
                "src",
                "dst",
                "out_cnt",
                F.lit(None).cast("boolean").alias("_seed_self"),
            )
            .unionByName(
                nodes.select(
                    F.col("node").alias("src"),
                    F.col("node").alias("dst"),
                    F.lit(1 << 62).alias("out_cnt"),
                    F.col("is_seed").alias("_seed_self"),
                )
            )
            .transform(ckpt_lazy)
        )
        restart = F.when(F.col("is_seed"), F.lit(base_i)).otherwise(0).cast("long")
        ranks = nodes.withColumn(
            "rank_i",
            F.when(F.col("is_seed"), F.lit(RANK_SCALE)).otherwise(0).cast("long"),
        )
        for _ in range(iterations):
            ranks = (
                edge_w.join(ranks, edge_w["src"] == ranks["node"])
                .groupBy("dst")
                .agg(
                    F.sum(F.expr("rank_i DIV out_cnt")).alias("recv"),
                    F.max("_seed_self").alias("is_seed"),
                )
                .select(
                    F.col("dst").alias("node"),
                    "is_seed",
                    (
                        restart + F.expr(f"(recv * {damp_num}) DIV {damp_den}")
                    ).alias("rank_i"),
                )
                .transform(ckpt_lazy)
            )
    return ranks.select(
        "node",
        "is_seed",
        F.round(F.col("rank_i") / RANK_SCALE, 6).alias("rank"),
    ).orderBy("node")


def transitive_closure(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Reachability closure of a directed graph by path doubling --
    the recursive-query (WITH RECURSIVE) capability Spark SQL lacks,
    provided as an operator. After round k the closure holds every
    pair connected by a path of length <= 2^k, so rounds scale with
    log2(diameter), not diameter: the semi-naive one-hop frontier the
    reference's link-walk jobs model would need 500 rounds on a
    500-long host chain; this needs 9.

    Fixpoint detection is folded into each round's own
    materialization via an Observation row count (the pair set grows
    monotonically, so an unchanged count IS the fixpoint) -- the
    star-contraction discipline (_star_contraction).

    Self-pairs are excluded (paths of length >= 1 to a DIFFERENT
    node); strongly_connected_components relies on exactly that
    contract. Scale: closure size is bounded by V^2 of the CONDENSED
    grain it's run at (host/domain graphs, like CommonCrawl's own
    host-level web-graph releases), never the page grain; the
    doubling join's intermediate is sum_v indeg*outdeg, the quantity
    the docstring of the consuming gate bounds by its node modulus.
    """
    from pyspark.sql import Observation

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        e = (
            edges.select("src", "dst")
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
            .transform(ckpt_eager)
        )
        r = e
        prev_n = None
        rounds = 0
        for _ in range(max_rounds):
            obs = Observation()
            two_hop = (
                r.alias("a")
                .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(
                    F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
                )
                .filter(F.col("src") != F.col("dst"))
            )
            r = (
                r.unionByName(two_hop)
                .distinct()
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .transform(ckpt_eager)
            )
            rounds += 1
            n = obs.get["n"]
            if n == prev_n:
                break
            prev_n = n
    transitive_closure.last_rounds = rounds
    return r


def reach_counts(edges: DataFrame, closure: DataFrame | None = None) -> DataFrame:
    """Per-node count of distinct OTHER nodes reachable along directed
    edges -- the bow-tie 'how much of the web can this host see'
    statistic. Nodes reaching nothing report 0."""
    clo = transitive_closure(edges) if closure is None else closure
    nodes = graph_nodes(edges)
    cnt = clo.groupBy("src").agg(F.count(F.lit(1)).alias("n_reach"))
    return (
        nodes.join(cnt, nodes["node"] == cnt["src"], "left")
        .select(
            "node",
            F.coalesce("n_reach", F.lit(0)).cast("bigint").alias("n_reach"),
        )
        .orderBy("node")
    )


def strongly_connected_components(
    edges: DataFrame, closure: DataFrame | None = None
) -> DataFrame:
    """SCC labels of a directed graph: v and w share a component iff
    each reaches the other (Broder et al. 2000's bow-tie SCC core).
    Computed from the reachability closure: mutual = closure
    intersected with its own transpose, label = min over the mutual
    set and self. Exact by construction -- no sampling, no pivoting --
    and engine-independent, so the gate hash-matches a recursive-CTE
    oracle. Runs at condensed (host) grain like transitive_closure.

    Returns (node, scc_id); singletons (no cycle through them) label
    themselves.
    """
    clo = transitive_closure(edges) if closure is None else closure
    mutual = clo.join(
        clo.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    mins = (
        mutual.groupBy("src")
        .agg(F.min("dst").alias("mw"))
        .select(F.col("src").alias("node"), "mw")
    )
    nodes = graph_nodes(edges)
    return (
        nodes.join(mins, "node", "left")
        .select(
            "node",
            F.least(
                F.col("node"), F.coalesce("mw", F.col("node"))
            ).alias("scc_id"),
        )
        .orderBy("node")
    )


def bowtie_classes(
    edges: DataFrame, closure: DataFrame | None = None
) -> DataFrame:
    """The Broder et al. 2000 bow-tie decomposition of a directed
    graph -- the canonical web-structure analysis: CORE = the largest
    SCC, IN = nodes that reach the core without belonging to it,
    OUT = nodes the core reaches, OTHER = tendrils + disconnected.
    (IN and OUT cannot overlap: a node both reaching and reached by
    the core would close a cycle through it and be core itself.)

    Built entirely from the reachability closure: SCC labels pick the
    core (largest component, ties to the smallest label -- a 1-row
    broadcast), IN/OUT are two semi-joins against the core set. Runs
    at host grain like the closure itself.

    Returns (node, cls) with cls in {'core','in','out','other'}.
    """
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        clo = transitive_closure(edges) if closure is None else closure
        scc = strongly_connected_components(edges, closure=clo)
        core_row = (
            scc.groupBy("scc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "scc_id")
            .limit(1)
            .select(F.col("scc_id").alias("core_id"))
        )
        labeled = scc.crossJoin(F.broadcast(core_row))
        core = labeled.filter(F.col("scc_id") == F.col("core_id")).select("node")
        reaches_core = (
            clo.join(
                core.select(F.col("node").alias("dst")), "dst", "left_semi"
            )
            .select(F.col("src").alias("node"))
            .distinct()
            .withColumn("_in", F.lit(True))
        )
        reached_by_core = (
            clo.join(
                core.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("_out", F.lit(True))
        )
        return (
            labeled.join(reaches_core, "node", "left")
            .join(reached_by_core, "node", "left")
            .select(
                "node",
                F.when(F.col("scc_id") == F.col("core_id"), F.lit("core"))
                .when(F.col("_in"), F.lit("in"))
                .when(F.col("_out"), F.lit("out"))
                .otherwise(F.lit("other"))
                .alias("cls"),
            )
            .orderBy("node")
        )


def condensation_levels(
    edges: DataFrame, closure: DataFrame | None = None, max_rounds: int = 30
) -> DataFrame:
    """Topological (longest-path) levels of the condensation DAG:
    contract each SCC to one node, then level(C) = 0 for source
    components and 1 + max(level of predecessors) otherwise -- the
    'how deep into the link structure is this host cluster' statistic
    that orders crawl tiers and dependency-style processing.

    Levels iterate to fixpoint with the Observation discipline
    (rounds = DAG depth, bounded by the SCC count); each round is one
    broadcast join + a partial-agg max over the condensation edge
    set, which is SCC-grain -- orders of magnitude smaller than the
    host graph, itself condensed from pages.

    Returns (scc_id, level, n_nodes) ordered by (level, scc_id).
    """
    from pyspark.sql import Observation

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        clo = transitive_closure(edges) if closure is None else closure
        scc = strongly_connected_components(edges, closure=clo)
        comps = (
            scc.groupBy("scc_id")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .transform(ckpt_eager)
        )
        # weight-1 real condensation edges plus a weight-0 self row per
        # SCC: max(plevel + w) over the group is then exactly
        # greatest(own level, max(predecessor level) + 1), which removes
        # the per-round left join that re-attached source components
        # (r9-opt wave 6, the pagerank self-row discipline; results
        # unchanged)
        cedges = (
            edges.join(
                scc.withColumnRenamed("node", "src").withColumnRenamed(
                    "scc_id", "csrc"
                ),
                "src",
            )
            .join(
                scc.withColumnRenamed("node", "dst").withColumnRenamed(
                    "scc_id", "cdst"
                ),
                "dst",
            )
            .select("csrc", "cdst")
            .filter(F.col("csrc") != F.col("cdst"))
            .distinct()
            .select("csrc", "cdst", F.lit(1).cast("bigint").alias("w"))
            .unionByName(
                comps.select(
                    F.col("scc_id").alias("csrc"),
                    F.col("scc_id").alias("cdst"),
                    F.lit(0).cast("bigint").alias("w"),
                )
            )
            .transform(ckpt_eager)
        )
        levels = comps.select("scc_id", F.lit(0).cast("bigint").alias("level"))
        prev_sig = None
        for _ in range(max_rounds):
            obs = Observation()
            levels = (
                cedges.join(
                    levels.withColumnRenamed("scc_id", "csrc").withColumnRenamed(
                        "level", "plevel"
                    ),
                    "csrc",
                )
                .groupBy(F.col("cdst").alias("scc_id"))
                .agg(F.max(F.col("plevel") + F.col("w")).alias("level"))
                .observe(
                    obs,
                    F.sum(F.col("level").cast("decimal(38,0)")).alias("s"),
                )
                .transform(ckpt_eager)
            )
            sig = obs.get["s"]
            if sig == prev_sig:
                break
            prev_sig = sig
    return (
        comps.join(levels, "scc_id")
        .select("scc_id", "level", "n_nodes")
        .orderBy("level", "scc_id")
    )


def hyperball(
    edges: DataFrame, max_rounds: int = 40, window_bits: int = 40
) -> DataFrame:
    """HyperBall geometric centralities (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013; the
    algorithm behind the published CommonCrawl host-graph centrality
    releases). Each node carries the deterministic m=64 HLL register
    vector (aggregates._sketch_registers math) of its OUT-ball
    B_t(v) = {u : dist(v, u) <= t}; one round is

        regs_t(v) = bucketwise-max(regs_{t-1}(v),
                                   regs_{t-1}(w) for each edge v->w)

    which is EXACTLY the register vector of the true ball B_t(v)
    (HLL union is lossless on registers), so every per-round estimate
    matches an oracle that rebuilds registers from exact recursive-CTE
    ball membership. Harmonic centrality accumulates the Boldi-Vigna
    telescoping sum_t (|B_t| - |B_{t-1}|) / t over the integer
    micro-unit estimates with truncating DIV -- exact integers end to
    end, bit-identical across engines and partitionings.

    State layout is HyperBall's own trick adapted to columnar Spark:
    ONE row per node with the 64 registers as 64 narrow int COLUMNS
    (not 64 rows), so a round is

        state -> broadcast/equi-join edges -> union self
              -> groupBy(node) with 64 max() aggregates
              -> recompute est + telescoping delta in a projection

    i.e. exactly ONE shuffle per round, the harmonic accumulator and
    previous estimate ride on the same row (contributed rows carry
    NULL there; max() ignores them), and no per-round join against a
    separate accumulator table exists at all. Fixpoint via the
    star-contraction Observation discipline on a 5-round cadence: the
    total register sum is monotone, so an unchanged sum across a span
    proves no round in the span changed anything. Rounds (possibly
    overshooting the true fixpoint by < cadence no-op hops) land in
    `hyperball.last_rounds`.

    Scale shape: state is V rows x ~70 small ints (the whole point vs
    materializing the V^2 closure); rounds = graph eccentricity, the
    same budget as the reference's iterative link-walk jobs. The
    exact-closure parity column is the gate's quality report, not
    part of the operator.

    Output: (node, ball_est_micro, harmonic_micro).
    """
    from pyspark.sql import Observation

    m = 64
    top = window_bits + 1
    unit = 1 << (window_bits + 1)
    from commoncrawl_crawler_spark.operators.aggregates import HLL_ALPHA_E6

    numerator = HLL_ALPHA_E6 * m * m * unit

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        e = (
            edges.select("src", "dst")
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
            .transform(ckpt_eager)
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        rcols = [f"_r{i}" for i in range(m)]
        # singleton registers: bucket/rho of the node's own hash -- the
        # identical md5 window math as aggregates._sketch_registers so the
        # oracle reuses the agg_distinct_sketch SQL model verbatim
        h = F.md5(F.col("node").cast("string"))
        bucket = (F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % m)
        rho = F.lit(top) - F.expr(
            "length(trim(LEADING '0' FROM bin("
            "CAST(conv(substring(md5(CAST(node AS STRING)), 16, 15),"
            " 16, 10) AS BIGINT) % 1099511627776)))"
        )
        # empty bucket = register 0 (contributes the full 2^41 unit)
        state = nodes.select(
            "node",
            *[
                F.when(bucket == i, rho).otherwise(F.lit(0)).cast("int").alias(c)
                for i, c in enumerate(rcols)
            ],
        )
        # denominator via an interpreted higher-order fold over the 64
        # registers: for an iterative operator the per-round Catalyst
        # analysis + Janino compile of a 64-term codegen sum costs more
        # driver wall than interpreting the fold costs the executors
        # (evaluated once per NODE row, not per corpus row)
        est = F.expr(
            f"CAST(CAST('{numerator}' AS DECIMAL(38,0)) DIV "
            f"aggregate(array({','.join(rcols)}), CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + shiftright(CAST({unit} AS BIGINT), x)) "
            "AS BIGINT)"
        )
        obs0 = Observation()
        state = (
            state.select(
                "node",
                *rcols,
                est.alias("_est_prev"),
                F.lit(0).cast("bigint").alias("_harm"),
            )
            .observe(obs0, F.sum("_est_prev").alias("e"))
            .transform(ckpt_eager)
        )
        # neighborhood function N(t) = sum over nodes of the ball-size
        # estimate at radius t -- recorded for free by the Observations
        # that already ride each round's materialization (Boldi-Vigna's
        # own diagnostic; effective diameter reads off this curve)
        est_totals = [int(obs0.get["e"] or 0)]  # empty edge set -> NULL sum

        reg_sum = sum(F.col(c) for c in rcols)
        prev_sig = None
        rounds = 0
        # checkpoint every round: the 64-register projection is wide, so
        # letting rounds chain lazily multiplies Catalyst's analysis cost
        # per span; a shallow one-shuffle plan per round is cheaper in
        # wall-clock AND is the shape a 1000-executor run wants (bounded
        # lineage, one exchange per radius step)
        checkpoint_every = 1
        for t in range(1, max_rounds + 1):
            # neighbor register vectors flow src <- dst; the accumulator
            # columns ride as NULL so the max() aggregates below pick the
            # node's OWN single non-null value
            contrib = e.join(state, e["dst"] == state["node"]).select(
                e["src"].alias("node"),
                *rcols,
                F.lit(None).cast("bigint").alias("_est_prev"),
                F.lit(None).cast("bigint").alias("_harm"),
            )
            merged = (
                state.unionByName(contrib)
                .groupBy("node")
                .agg(
                    *[F.max(c).alias(c) for c in rcols],
                    F.max("_est_prev").alias("_est_prev"),
                    F.max("_harm").alias("_harm"),
                )
            )
            # truncating integer division by the radius: deltas are
            # nonnegative (registers only grow), so DIV == floor.
            # (A 1-row-broadcast radius column was tried to stabilize the
            # generated code across rounds; the extra broadcast job cost
            # more than the saved recompile at realistic round counts.)
            scored = merged.select(
                "node", *rcols, est.alias("_est_new"), "_est_prev", "_harm"
            )
            state = scored.select(
                "node",
                *rcols,
                F.col("_est_new").alias("_est_prev"),
                (
                    F.col("_harm") + F.expr(f"(_est_new - _est_prev) DIV {t}")
                ).alias("_harm"),
            )
            if t % checkpoint_every == 0 or t == max_rounds:
                obs = Observation()
                state = state.observe(
                    obs,
                    F.sum(reg_sum).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("_est_prev").alias("e"),
                ).transform(ckpt_eager)
                sig = (obs.get["n"], obs.get["s"])
                if sig == prev_sig:
                    break
                prev_sig = sig
                est_totals.append(int(obs.get["e"] or 0))
            rounds = t
    hyperball.last_rounds = rounds
    hyperball.last_est_totals = est_totals
    return state.select(
        "node",
        F.col("_est_prev").alias("ball_est_micro"),
        F.col("_harm").alias("harmonic_micro"),
    ).orderBy("node")


def resolve_redirect_chains(
    redirects: DataFrame, max_rounds: int = 8
) -> DataFrame:
    """Resolve redirect/alias chains to their final target by pointer
    doubling -- the CrawlDB redirect discipline (the reference's merge
    carries per-attempt redirect targets in crawl_stats[] and its
    link walks must land on the canonical destination;
    CrawlDBMergingReducer folds http 3xx attempts into the merged
    record) as a standalone graph operator: every node follows its
    UNIQUE outgoing `redirects_to` pointer (a functional graph) until
    a terminal node (no outgoing pointer) or a cycle.

    Pointer doubling composes the partial walk with itself each round
    (f_{2k} = f_k . f_k, hops add), so chains of length L resolve in
    ceil(log2(L)) rounds, not L -- with max_rounds=8 any chain up to
    256 hops resolves, and anything still unresolved after the doubling
    budget has walked >= 2^max_rounds distinct pointers, which on a
    <= 2^max_rounds-node host graph is a proof of a cycle (the gate's
    97-node grain needs 7). Semantics: (node, final_node, hops,
    on_cycle); cycle members and nodes whose chain enters a cycle
    report on_cycle=true with NULL final/hops, terminals report
    themselves with 0 hops -- exactly a recursive-CTE walk's verdict,
    which is what the oracle runs. A self-redirect is already
    canonical: the src=dst edge is dropped, so the node reports as a
    terminal (itself, 0 hops), not a 1-cycle.

    Scale shape: state is one row per node (node, cur, hops, done);
    each round is ONE self-equi-join on cur plus a localCheckpoint --
    log2(chain length) shuffles total, the textbook list-ranking
    pattern for 100 TB host tables where a per-hop loop would take
    hundreds of rounds.
    """
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(redirects.sparkSession, known_rows(redirects)):
        base = redirects.select(
            F.col("src").alias("node"), F.col("dst").alias("to")
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        ptr = (
            base.filter(F.col("node") != F.col("to"))
            .groupBy("node")
            .agg(F.min("to").alias("to"))  # enforce functional: one pointer
            .transform(ckpt_eager)
        )
        # node universe from the UNFILTERED input so a pure self-redirect
        # still reports (as a terminal)
        nodes = (
            base.select("node")
            .unionByName(base.select(F.col("to").alias("node")))
            .distinct()
        )
        # state: cur = end of the walked prefix, hops = its length,
        # done = cur is terminal
        state = (
            nodes.join(ptr, "node", "left")
            .select(
                "node",
                F.coalesce("to", F.col("node")).alias("cur"),
                F.when(F.col("to").isNull(), F.lit(0))
                .otherwise(F.lit(1))
                .cast("bigint")
                .alias("hops"),
                F.col("to").isNull().alias("done"),
            )
            .transform(ckpt_eager)
        )
        for _ in range(max_rounds):
            # compose the walk with itself: look up state[cur]
            nxt = state.alias("a").join(
                state.select(
                    F.col("node").alias("_m_node"),
                    F.col("cur").alias("_m_cur"),
                    F.col("hops").alias("_m_hops"),
                    F.col("done").alias("_m_done"),
                ),
                F.col("a.cur") == F.col("_m_node"),
                "left",
            )
            state = nxt.select(
                F.col("a.node").alias("node"),
                F.when(F.col("a.done"), F.col("a.cur"))
                .otherwise(F.coalesce("_m_cur", F.col("a.cur")))
                .alias("cur"),
                F.when(F.col("a.done"), F.col("a.hops"))
                .otherwise(F.col("a.hops") + F.coalesce("_m_hops", F.lit(0)))
                .alias("hops"),
                (
                    F.col("a.done") | F.coalesce("_m_done", F.lit(True))
                ).alias("done"),
            ).transform(ckpt_eager)
    return state.select(
        "node",
        F.when(F.col("done"), F.col("cur")).alias("final_node"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        (~F.col("done")).alias("on_cycle"),
    ).orderBy("node")


def anchor_text_summary(links: DataFrame, k: int = 3) -> DataFrame:
    """Inbound anchor-text aggregation per link target -- the LinkDB
    complement of inverse_links (InverseLinkDBWriterV3.java keeps
    per-target SOURCE samples; web search additionally wants the TEXT
    the web uses to link to a page, the classic Nutch/Google anchor
    index). Input rows: (url, anchor, src_host) -- one per extracted
    link (functions/html.py extract_links provides the typed anchor).

    Output: the top-k anchors per target as flat rows
    (url, rank, anchor, anchor_cnt, total_inlinks, n_src_hosts) --
    rank by (count desc, anchor asc), so row k=1 is the phrase most
    of the web uses for that page.

    Scale shape: ONE pass over the link table -- rollup(url, anchor)
    computes the per-anchor counts and the per-url totals (inlink
    count + exact distinct source hosts) in a single Expand +
    partial-aggregating shuffle, then one window over url ranks the
    anchor level. No joins, no second scan; per-url state is bounded
    by the anchor vocabulary of that page's inlinks, and the window
    partition is the (already shuffled) url key.
    """
    from pyspark.sql import Window

    lv = (
        links.select("url", "anchor", "src_host")
        .rollup("url", "anchor")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.countDistinct("src_host").alias("_hosts"),
            F.grouping_id().alias("_gid"),
        )
        .filter(F.col("url").isNotNull())
    )
    detail = lv.filter(F.col("_gid") == 0)
    totals = lv.filter(F.col("_gid") == 1).select(
        "url",
        F.col("_cnt").alias("total_inlinks"),
        F.col("_hosts").alias("n_src_hosts"),
    )
    w = Window.partitionBy("url").orderBy(
        F.col("_cnt").desc(), F.col("anchor").asc()
    )
    ranked = (
        detail.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("url", "rank", "anchor", F.col("_cnt").alias("anchor_cnt"))
    )
    return ranked.join(totals, "url").orderBy("url", "rank")


def opic(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """OPIC -- On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003), the crawl-prioritization alternative to batch
    PageRank: every node holds CASH; each round it hands cash DIV
    outdeg to each successor and banks what it held into HISTORY, and
    dangling cash is split evenly across all nodes (the paper's
    virtual-page edge). After k rounds history/total estimates page
    importance -- the reference's crawler needs exactly this kind of
    frontier priority long before a full PageRank fixpoint is
    affordable (its PageRankUtils BSP loop is the batch variant).

    Same exact-arithmetic contract as `pagerank`: cash is a
    fixed-point bigint (1.0 == 1e6) with truncating DIV, so results
    are bit-identical across engines/partitionings (cash lost to
    truncation simply leaves circulation -- deterministic, documented).

    Scale shape per round: one equi-join + groupBy on dst (the same
    single shuffle as a PageRank step) plus TWO 1-row broadcast
    scalars (dangling-cash total, node count) -- the bounded-broadcast
    pattern the census allowlists; state is (node, cash, hist) and is
    checkpointed each round.

    Output: (node, cash_micro, hist_micro).
    """
    # loop-state shuffles sized to the DATA (r10-opt; see loopscope).
    # Per-round checkpoints are LAZY since round 10: nothing in the
    # round needs a driver-side decision (the dangling-cash scalar is
    # a broadcast subplan of the next round's own plan), so the whole
    # fixed-iteration chain executes inside the consumer's single
    # action instead of one eager job per round -- the `pagerank`
    # shape. Results are unchanged (same plans, same arithmetic).
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        nodes = graph_nodes(edges).transform(ckpt_lazy)
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
        # self rows (see _self_rows) carry each node's own previous
        # (cash, hist) into the per-round groupBy, removing the per-round
        # left join; the dangling-node test (no outgoing edges) is
        # loop-invariant, so it becomes a `dang` flag carried in the
        # state instead of a per-round anti join (r9-opt wave 5, exact
        # results unchanged)
        edge_w = (
            edges.select("src", "dst")
            .join(out_deg, "src")
            .select("src", "dst", "out_cnt")
            .unionByName(_self_rows(nodes))
            .transform(ckpt_lazy)
        )
        n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))

        state = nodes.join(
            out_deg, nodes["node"] == out_deg["src"], "left"
        ).select(
            "node",
            F.lit(1_000_000).cast("bigint").alias("cash_micro"),
            F.lit(0).cast("bigint").alias("hist_micro"),
            F.col("src").isNull().alias("dang"),
        )
        is_self = F.col("src") == F.col("dst")
        for _ in range(iterations):
            dangling = state.agg(
                F.coalesce(
                    F.sum(F.when(F.col("dang"), F.col("cash_micro"))), F.lit(0)
                ).alias("_dang")
            )
            state = (
                edge_w.join(state, edge_w["src"] == state["node"])
                .groupBy("dst")
                .agg(
                    F.sum(F.expr("cash_micro DIV out_cnt")).alias("_recv"),
                    F.max(F.when(is_self, F.col("cash_micro"))).alias("_cash"),
                    F.max(F.when(is_self, F.col("hist_micro"))).alias("_hist"),
                    F.max(F.when(is_self, F.col("dang"))).alias("_dang_f"),
                )
                .crossJoin(F.broadcast(dangling))
                .crossJoin(F.broadcast(n_nodes))
                .select(
                    F.col("dst").alias("node"),
                    (F.col("_recv") + F.expr("_dang DIV _n"))
                    .cast("bigint")
                    .alias("cash_micro"),
                    (F.col("_hist") + F.col("_cash")).alias("hist_micro"),
                    F.col("_dang_f").alias("dang"),
                )
                .transform(ckpt_lazy)
            )
    return state.select("node", "cash_micro", "hist_micro").orderBy("node")


def hyperball_neighborhood(
    edges: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """The graph's neighborhood function N(t) = sum over nodes of the
    HLL ball-size estimate at radius t -- HyperBall's own headline
    diagnostic (Boldi-Vigna use exactly this curve to report the
    effective diameter of the web: the smallest t reaching 90% of the
    final reachable-pair count, the 'four degrees of separation'
    statistic). The per-round totals are recorded by the Observations
    that already ride `hyperball`'s materializations, so this costs
    ONE hyperball run and zero extra jobs; the <= max_rounds scalars
    assemble into a DataFrame driver-side (a bounded collect by
    construction).

    Output: (t, total_est_micro, delta_micro, reached_90pct) for
    t = 0 .. register-fixpoint round.
    """
    spark = edges.sparkSession
    hyperball(edges, max_rounds=max_rounds)
    return neighborhood_table(spark, hyperball.last_est_totals)


def neighborhood_table(spark, totals: list) -> DataFrame:
    """Assemble the N(t) table from an already-recorded per-round
    totals list (hyperball.last_est_totals) -- lets a caller that
    just ran hyperball for the node-level output derive the curve
    WITHOUT a second register iteration."""
    final = totals[-1]
    rows = [
        (
            t,
            tot,
            tot - (totals[t - 1] if t else tot),
            tot * 10 >= 9 * final,
        )
        for t, tot in enumerate(totals)
    ]
    return spark.createDataFrame(
        rows,
        "t int, total_est_micro bigint, delta_micro bigint, "
        "reached_90pct boolean",
    ).orderBy("t")


def random_walks(
    edges: DataFrame, walks_per_node: int = 2, steps: int = 6
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus (Perozzi et
    al. 2014): the walk sequences that graph-embedding training
    (DeepWalk/node2vec skip-gram) consumes, generated with an
    md5-derived choice instead of an RNG so every engine and layout
    emits the IDENTICAL corpus -- the repo's standard determinism
    trade (the published algorithms sample uniformly; md5(walk, node,
    step) mod outdeg IS a uniform choice, just a reproducible one).

    Each node starts `walks_per_node` walks; at step t from node v
    the walk moves to the out-neighbor with rank
    md5(walk_id # v # t) mod outdeg (neighbors ranked by dst asc);
    a walk reaching a dangling node terminates early.

    Output: (walk_id, start_node, step, node) -- step 0 is the start;
    one row per visited position (the exploded corpus ready for
    skip-gram windowing, e.g. via text_pack_sequences' layout).

    Scale shape: the ranked edge table is built once (one window over
    src); each step is ONE equi-join of the frontier against it --
    `steps` joins total, frontier never exceeds walks_per_node x V
    rows, checkpointed per step.
    """
    from pyspark.sql import Window

    # loop-state shuffles sized to the DATA (r10-opt; see loopscope)
    with small_state_scope(edges.sparkSession, known_rows(edges)):
        w = Window.partitionBy("src").orderBy("dst")
        ranked = (
            edges.select("src", "dst")
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
            .withColumn("_rank", F.row_number().over(w) - 1)
            .withColumn("_out", F.count(F.lit(1)).over(Window.partitionBy("src")))
            .transform(ckpt_eager)
        )
        nodes = (
            ranked.select(F.col("src").alias("node"))
            .unionByName(ranked.select(F.col("dst").alias("node")))
            .distinct()
        )
        frontier = nodes.crossJoin(
            F.broadcast(
                nodes.sparkSession.range(walks_per_node).select(
                    F.col("id").cast("int").alias("walk_id")
                )
            )
        ).select(
            "walk_id",
            F.col("node").alias("start_node"),
            F.lit(0).alias("step"),
            F.col("node").alias("node"),
        ).transform(ckpt_eager)
        out = frontier
        for t in range(1, steps + 1):
            pick = F.expr(
                "CAST(conv(substring(md5(concat(walk_id, '#', node, '#', "
                f"{t})), 1, 15), 16, 10) AS BIGINT)"
            )
            frontier = (
                frontier.join(
                    ranked,
                    (frontier["node"] == ranked["src"])
                    & (pick % ranked["_out"] == ranked["_rank"]),
                )
                .select(
                    "walk_id",
                    "start_node",
                    F.lit(t).alias("step"),
                    F.col("dst").alias("node"),
                )
                .transform(ckpt_eager)
            )
            out = out.unionByName(frontier)
    return out.orderBy("walk_id", "start_node", "step")
