"""Deduplication operators (SURVEY.md section 2.9 + training-data tier).

The reference's dedupe stack:
- exact dupes by content MD5 (fuzzydedupe/CrossDomainDupesReducer.java:49
  groups by content signature),
- near-dupes by 64-bit SimHash with C(6,3)=20-key LSH blocking
  (deduper/Stage1Mapper.java:187-207, DeduperUtils.java:201,271) and
  pairwise hamming <= K within blocks (Stage1Reducer.java:51),
- match-set union across blocks (SetUnionFinder,
  DeduperUtils.java:728-917) = connected components.

This module adds the modern tiers a 100 TB training-data pipeline
needs: MinHash-LSH, token-set Jaccard, and embedding-cosine near-dup.

Scale shape of every LSH path: per-doc sketch (Arrow-batched pandas
UDF or Column expr) -> explode band keys -> groupBy band (one
shuffle; bands are high-cardinality so no skew) -> pairwise verify
only within buckets (quadratic only in tiny candidate groups) ->
iterative connected components over the surviving match edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..checkpointing import ckpt_eager, ckpt_lazy
from ..functions import hashing


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact-dup groups by content signature (MD5 over text --
    ParserMapper.java:828-832's signature, CrossDomainDupesReducer's
    grouping). Returns one row per duplicated signature."""
    return (
        documents.groupBy(F.md5(F.col("text")).alias("sig"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("canonical_doc"),
            F.max("doc_id").alias("max_doc"),
            F.countDistinct("source").alias("distinct_sources"),
        )
        .filter(F.col("dup_count") > 1)
        .orderBy("sig")
    )


def normalized_duplicates(documents: DataFrame) -> DataFrame:
    """Exact-dup groups over a *normalized* signature: md5 of the
    sorted distinct token set. Catches reordered/repeated-word
    near-identical documents that raw-byte MD5 misses -- the level of
    normalization the reference applies via URL canonicalization
    before fingerprinting, applied to content."""
    sig = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))),
        )
    )
    return (
        documents.groupBy(sig.alias("sig"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("dup_count") > 1)
        .orderBy("sig")
    )


def cross_source_duplicates(documents: DataFrame) -> DataFrame:
    """Cross-domain dupe stats: per signature, how many distinct
    sources share it (fuzzydedupe/CrossDomainDupesReducer.java:49 +
    FindBadIPsFromDupes capability: colocated-spam detection).
    Uses the normalized token-set signature (raw-byte dupes don't
    exist in the synthetic corpus; token-set dupes do)."""
    sig = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))),
        )
    )
    return (
        documents.groupBy(sig.alias("sig"))
        .agg(
            F.countDistinct("source").alias("source_count"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("source_count") > 1)
        .orderBy("sig")
    )


def _cap_buckets(bands: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Drop rows in LSH buckets larger than `cap`.

    One degenerate band key (constant sketch from boilerplate or empty
    documents) makes the within-bucket join quadratic; the reference
    bounds per-group work the same way (Stage1 groups are capped by
    construction). The window count shuffles on the same key the
    bucket join needs, so it adds no extra exchange."""
    w = Window.partitionBy(*key_cols)
    return (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= cap)
        .drop("_bsz")
    )


def simhash_candidate_pairs(
    documents: DataFrame,
    hamming_k: int = 3,
    max_bucket: int = 1000,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash LSH near-dup candidate pairs.

    Pipeline (mirrors Stage1Mapper/Stage1Reducer semantics):
    simhash (pandas UDF) -> 20 band keys (pure Column expr,
    simhash_bands_expr) -> explode -> self-join per (pattern, key)
    bucket -> hamming <= k verify via bit_count (JVM) -> distinct
    pairs. Hamming <= 3 guarantees a shared band (C(6,3) blocking:
    <= 3 dirty blocks leave 3 clean ones, which form one of the 20
    patterns); higher hamming_k is only partial recall and must be
    opted into. Buckets above max_bucket are dropped
    (degenerate-band guard).
    """
    if hamming_k > 3 and not allow_partial_recall:
        raise ValueError(
            f"hamming_k={hamming_k} exceeds the C(6,3) blocking "
            "guarantee (<= 3); pass allow_partial_recall=True to accept "
            "missed spread-bit pairs"
        )
    sh = documents.select(
        "doc_id", hashing.simhash64_udf(F.col("text")).alias("simhash")
    )
    bands = (
        sh.select(
            "doc_id",
            "simhash",
            F.explode(hashing.simhash_bands_expr(F.col("simhash"))).alias("band"),
        )
        .select("doc_id", "simhash", "band.pattern", "band.key")
        # materialize once: the self-join would otherwise run the
        # sketch UDF twice (Spark doesn't CSE across join branches)
        .transform(ckpt_lazy)
    )
    bands = _cap_buckets(bands, ["pattern", "key"], max_bucket)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pattern") == F.col("b.pattern"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hashing.hamming_distance_expr(
                F.col("a.simhash"), F.col("b.simhash")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_k)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.4, length_band: int = 64
) -> DataFrame:
    """Exact token-set Jaccard similarity join with length blocking
    and prefix filtering.

    The non-sketch baseline.  Candidates come from an equi-join on
    PREFIX tokens only -- each document's n - floor(t*n) + 1
    globally-rarest tokens (one conservative token longer than the
    exact n - ceil(t*n) + 1, so float thresholds can never shorten
    the prefix below the theorem's bound) -- under the same (lang,
    length-band) blocking as before; exact Jaccard is then verified
    on the full token arrays, so the output is IDENTICAL to the
    naive all-pairs join within blocks.

    Why not the token-level intersect-count join this used to be:
    joining on EVERY shared token is quadratic in a token's document
    frequency, and corpus-frequent tokens make that blow up with
    corpus size -- the round-8 sf1 spot-bench measured alpha = 2.19
    (4.6 s -> 713 s at 10x data).  Prefix filtering sends only rare
    tokens to the join (Chaudhuri et al. ICDE'06; Bayardo et al.
    WWW'07): a stopword lands in a prefix only for documents made of
    nothing but stopwords, so candidate volume tracks the true
    near-duplicate density, not the Zipf head.
    """
    toks = documents.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / length_band).alias("lb"),
        F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")).alias("tokens"),
    ).withColumn("n", F.size("tokens")).transform(ckpt_eager)
    tl = F.lit(float(threshold))
    tok_rows = toks.select(
        "doc_id", "lang", "lb", "n", F.explode("tokens").alias("tok")
    )
    freq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pre = (
        tok_rows.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n") - F.floor(tl * F.col("n")) + F.lit(1)
        )
        .select("doc_id", "lang", "lb", "n", "tok")
        # both sides of the candidate self-join read this prefix
        # table; without a boundary the explode + df-join + window
        # chain is planned and EXECUTED twice (r9-opt wave 3)
        .transform(ckpt_lazy)
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune: jaccard <= min(n)/max(n) -- output-
            # neutral, cuts candidates before the distinct
            & (F.col("a.n") >= tl * F.col("b.n"))
            & (F.col("b.n") >= tl * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tokens").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("inter", inter)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        # the result-ordering sort's range sampling would re-run the
        # whole array_intersect verify (measured 2.2 s -> 4.4 s at
        # sf0.1); materialize the small pair rows first (r9-opt)
        .transform(ckpt_lazy)
        .orderBy("doc_a", "doc_b")
    )


def _blocked_cosine_pairs(
    blocked: DataFrame, raw_floor: float, max_block: int = 100_000
) -> DataFrame:
    """Shared block-local pairwise-cosine kernel: one Arrow-batched
    `applyInPandas` per `block` value over (vec_id, block, embedding)
    -> (vec_a, vec_b, cosine_raw) with vec_a < vec_b. Normalize the
    block's matrix once, one float64 BLAS matmul yields every pairwise
    cosine; `raw_floor` keeps every pair within one rounding step of
    the caller's threshold (the authoritative round + filter stays
    JVM-side so Spark's HALF_UP rounding decides the output).

    Degenerate-block guard, same rationale as _cap_buckets on the LSH
    tiers: one coarse block covering the corpus would build an m x m
    cosine matrix in a single task (320 GB at m=200k) -- drop
    oversized blocks rather than OOM; refine the blocking instead."""
    import numpy as np
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or len(pdf) > max_block:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine_raw": []})
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        norms[norms == 0.0] = 1.0
        # dot-then-divide (not normalize-then-dot): the same algebraic
        # form as cosine(a,b) = a.b / (|a||b|) used by the SQL oracle
        sims = (x @ x.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= raw_floor
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cosine_raw": sims[ia[keep], ib[keep]],
            }
        )

    return blocked.groupBy("block").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cosine_raw double"
    )


def embedding_near_duplicates(
    embeddings: DataFrame, cosine_threshold: float = 0.95, band: int = 8
) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked.

    One Arrow-batched `applyInPandas` per label block: normalize the
    block's matrix once, one BLAS matmul yields every pairwise cosine
    (float64 -- float32 accumulation would diverge from the oracle).
    Per-pair interpreted higher-order folds cost ~dim lambda evals x
    |pairs|; the matmul does the same flops vectorized, ~5x faster at
    sf0.1. Blocking on `label` keeps the self-join linear-ish; the
    unblocked scale path is similarity.ann_lsh_topk.

    Parity: the UDF emits RAW cosines and keeps every pair within one
    rounding step of the threshold; the authoritative round(4) +
    threshold filter stay JVM-side, so Spark's HALF_UP rounding -- not
    numpy's banker's rounding -- decides the output, matching the SQL
    oracle's round().
    """
    pairs = _blocked_cosine_pairs(
        embeddings.select(
            "vec_id",
            F.col("label").alias("block"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        raw_floor=float(cosine_threshold) - 5e-5,
    )
    return (
        pairs.select(
            "vec_a", "vec_b", F.round(F.col("cosine_raw"), 4).alias("cosine")
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .orderBy("vec_a", "vec_b")
    )


def semantic_duplicates(
    embeddings: DataFrame,
    clusters: DataFrame,
    cosine_threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication",
    arXiv:2303.09540): cluster the embedding space with k-means, then
    deduplicate WITHIN each cluster by pairwise cosine -- the
    clustering turns the quadratic all-pairs problem into k
    independent block-local matmuls, which is exactly what makes
    semantic dedup feasible at 100 TB (the paper runs it on LAION).

    `clusters` is a (vec_id, cluster) assignment -- in the gated
    pipeline the exact-integer `similarity.kmeans_exact` output, so
    the block boundaries themselves are bit-identical across engines
    and layouts. Within a cluster, a vector is DROPPED when any
    lower-id vector sits above the cosine threshold (round(cos, 4) >=
    threshold, Spark HALF_UP as authoritative, same parity discipline
    as embedding_near_duplicates); the lowest id of each semantic
    group survives. Keep-lowest over pairs (not connected components)
    is the paper's epsilon-ball pruning shape: one representative per
    dense neighborhood, no transitive chaining.

    Returns one row per vector: (vec_id, cluster, action) with action
    in {'keep', 'drop'}, ordered by vec_id.
    """
    blocked = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).join(
        clusters.select("vec_id", F.col("cluster").alias("block")), "vec_id"
    )
    pairs = _blocked_cosine_pairs(
        blocked, raw_floor=float(cosine_threshold) - 5e-5
    )
    drops = (
        pairs.filter(
            F.round(F.col("cosine_raw"), 4) >= F.lit(cosine_threshold)
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        clusters.select("vec_id", "cluster")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.when(F.col("_drop"), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
        .orderBy("vec_id")
    )


def simhash_clusters(
    documents: DataFrame, hamming_k: int = 3, max_iterations: int = 20
) -> DataFrame:
    """The reference's full two-stage dedupe: LSH candidate pairs ->
    hamming verify -> match-set union (Stage1Mapper/Stage1Reducer +
    Stage2Reducer/SetUnionFinder, SURVEY.md 2.9). Returns
    (doc_id, cluster) where cluster is the minimum doc_id of the
    near-duplicate component; singleton docs map to themselves."""
    pairs = simhash_candidate_pairs(documents, hamming_k=hamming_k).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs, max_iterations=max_iterations).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
        )
        .orderBy("doc_id")
    )


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Merge overlapping match sets into components -- the
    SetUnionFinder capability (DeduperUtils.java:728-917,
    Stage2Reducer.java:39-56).

    Delegates to the shared large-star/small-star contraction in
    operators/graph.py (O(log n) rounds, convergence folded into each
    round's own job); this module only renames the label column to
    the deduper's vocabulary. edges: (src, dst) long columns.
    Returns (node, component).
    """
    from .graph import connected_components as _graph_cc

    return _graph_cc(edges, max_iterations=max_iterations).select(
        "node", F.col("comp").alias("component")
    )


# ---------------------------------------------------------------------------
# md5-twin sketch tier: LSH with a cross-engine-replayable hash
# ---------------------------------------------------------------------------
#
# The numpy splitmix64 sketch kernels above are the performance path,
# but no oracle engine can replay them. This tier builds the SAME
# LSH structure (sketch -> bands -> bucket join -> in-bucket verify ->
# components) from md5 -- the one hash Spark and DuckDB both expose
# with identical output -- entirely as JVM Column expressions, so the
# full candidate-pair set is hash-checkable against a SQL oracle.
# Shapes mirror deduper/Stage1Mapper.java:187-207 (banded blocking)
# and Stage1Reducer.java:51 (verify within block).

from functools import reduce as _reduce
from operator import add as _add


def _md5_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, tok) distinct lowercase 3-token shingles.

    Shingles, not unigrams: documents sharing a vocabulary but not
    phrasing must not collide (unigram sketches put ~10% of all doc
    pairs in the same LSH buckets on same-domain corpora; shingles
    drop that to the true near-dup rate). Same choice as the
    reference's text shingling (DeduperUtils.java sketch build)."""
    # delegates to the generic narrow-projection shingle build (the
    # contamination tier shares the identical construction; one
    # implementation keeps the dedup and contamination token units
    # from silently diverging). vs the old lead()-window formulation
    # this shuffles nothing but the closing distinct -- the window
    # sorted the ENTIRE exploded token table (corpus x ~200 rows at
    # the 100 TB design point) just to pair adjacent tokens.
    from .textstats import _token_shingles

    return _token_shingles(documents, 3).withColumnRenamed("sh", "tok")


_H60 = "CAST(conv(substring(md5({v}),1,15),16,10) AS BIGINT)"


def md5_simhash_sketches(
    documents: DataFrame, bits: int = 60, tokens: DataFrame | None = None
) -> DataFrame:
    """60-bit simhash from md5 token hashes (15 hex chars keeps the
    value positive in any engine's signed 64-bit). One shuffle: a
    groupBy with `bits` conditional-sum partials -- no UDF.

    `tokens`: optionally inject a pre-materialized _md5_tokens table so
    a query server amortizes the shingle build + distinct (one
    shuffles) across the simhash and minhash tiers."""
    toks = tokens if tokens is not None else _md5_tokens(documents)
    hs = toks.withColumn("h", F.expr(_H60.format(v="tok")))
    aggs = [
        F.sum(F.expr(f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END")).alias(
            f"s{b}"
        )
        for b in range(bits)
    ]
    sketch = _reduce(
        _add,
        [
            F.expr(f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
            for b in range(bits)
        ],
    )
    return hs.groupBy("doc_id").agg(*aggs).select("doc_id", sketch.alias("sketch"))


def md5_simhash_pairs(
    documents: DataFrame,
    hamming_k: int = 3,
    bands: int = 4,
    band_bits: int = 15,
    max_bucket: int = 1000,
    allow_partial_recall: bool = False,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs + hamming verify over the md5
    simhash: (doc_a, doc_b, hamming). Bucket equi-join on
    (band index, band value); verify touches only co-bucketed pairs.

    Recall guarantee: with `bands` bands, a pair is guaranteed a
    shared bucket only when hamming <= bands - 1 (pigeonhole: some
    band is untouched). A hamming_k above that silently drops pairs
    whose differing bits spread across every band, so it is rejected
    unless `allow_partial_recall` opts in (the reference's own verify
    threshold is <= 3 for the same reason, Stage1Reducer.java:51)."""
    if hamming_k > bands - 1 and not allow_partial_recall:
        raise ValueError(
            f"hamming_k={hamming_k} exceeds the {bands}-band blocking "
            f"guarantee (<= {bands - 1}); pass allow_partial_recall=True "
            "to accept missed spread-bit pairs"
        )
    # eager: the band self-join reads the sketch table twice in one job;
    # a lazy checkpoint would compute the 60-agg pipeline twice
    sk = md5_simhash_sketches(documents, tokens=tokens).transform(ckpt_eager)
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[F.expr(f"(sketch >> {i * band_bits}) & {mask}") for i in range(bands)]
    )
    b = sk.select("doc_id", "sketch", F.posexplode(band_arr).alias("pos", "band"))
    b = _cap_buckets(b, ["pos", "band"], max_bucket)
    cand = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.pos") == F.col("y.pos"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sketch").alias("sk_a"),
            F.col("y.sketch").alias("sk_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sk_a ^ sk_b)"))
        .filter(F.col("hamming") <= hamming_k)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def winnow_candidate_pairs(
    documents: DataFrame,
    k: int = 16,
    w: int = 4,
    min_shared: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints
    (Schleimer et al. SIGMOD'03; kernel in functions/text.py).

    Two documents sharing any substring of length >= k+w-1 share a
    fingerprint, so the fingerprint equi-join IS the candidate
    generator -- the same block-join-verify shape as the simhash /
    minhash tiers but keyed on content substrings rather than sketch
    bands, which makes it exact for contiguous plagiarism-style
    overlap. k=16 (shared run >= k+w-1 = 19 chars, ~3 words) because
    8-char grams collide on every common word pair in running text;
    `min_shared` filters drive-by collisions.

    Scale: explode (doc, fp), cap degenerate fingerprint buckets
    (boilerplate), equi-join on fp, count shared fps per pair with
    partial aggregation. Fingerprints are ~1/w of k-grams per doc, so
    the exploded table is a fraction of a full shingle index.
    """
    from ..functions import text as textfns

    fps = documents.select(
        "doc_id",
        F.explode(
            textfns.winnow_fingerprints_expr(F.col("text"), k=k, w=w)
        ).alias("fp"),
    )
    # checkpoint: Catalyst does not CSE across self-join branches --
    # without this the winnow UDF runs twice
    fps = _cap_buckets(fps, ["fp"], max_bucket).transform(ckpt_eager)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def minhash_perm_constants(perms: int = 16) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) for the universal-hash permutation
    family h_p(x) = (a_p * x + b_p) mod (2^61-1). a_p < 2^31 keeps
    every product under 2^62 so no engine needs wrapping overflow."""
    return [
        (((1000003 * (p + 1)) % (1 << 31)) | 1, (777767777 * (p + 1) + 9176))
        for p in range(perms)
    ]


def md5_minhash_signatures(
    documents: DataFrame, perms: int = 16, tokens: DataFrame | None = None
) -> DataFrame:
    """Minhash signature via ONE md5 per shingle + `perms` universal-
    hash permutations (Carter-Wegman h_p(x) = (a_p x + b_p) mod M over
    the shingle's base hash) -- one groupBy with `perms` min partials.
    16x fewer md5 evaluations than hashing (p, shingle) per perm, and
    plain positive-integer arithmetic any oracle engine replays."""
    toks = tokens if tokens is not None else _md5_tokens(documents)
    base = f"({_H60.format(v='tok')} % 2147483647)"
    aggs = [
        F.min(
            F.expr(f"({base} * {a} + {b}) % 2305843009213693951")
        ).alias(f"m{p}")
        for p, (a, b) in enumerate(minhash_perm_constants(perms))
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def md5_minhash_pairs(
    documents: DataFrame,
    perms: int = 16,
    min_matching: int = 13,
    max_bucket: int = 1000,
    tokens: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Banded minhash LSH (bands of 2 rows) + signature-agreement
    verify: (doc_a, doc_b, matching, est_jaccard). est_jaccard =
    matching/perms is the standard minhash similarity estimate.
    Pass `sig` (doc_id, m0..m{perms-1}) to band/verify an externally
    maintained signature table -- the incremental path: signatures
    accumulate in a streaming aggregation (streaming_minhash_
    signatures) and only the banding/verify reruns."""
    if sig is None:
        sig = md5_minhash_signatures(documents, perms, tokens=tokens)
    sig = sig.transform(ckpt_eager)
    band_arr = F.array(
        *[
            F.concat_ws(
                "_",
                F.col(f"m{2 * i}").cast("string"),
                F.col(f"m{2 * i + 1}").cast("string"),
            )
            for i in range(perms // 2)
        ]
    )
    b = sig.select("doc_id", F.posexplode(band_arr).alias("pos", "bkey"))
    b = _cap_buckets(b, ["pos", "bkey"], max_bucket)
    cand = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.pos") == F.col("y.pos"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{p}").alias(f"a{p}") for p in range(perms)],
    )
    c = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{p}").alias(f"b{p}") for p in range(perms)],
    )
    matching = _reduce(
        _add,
        [
            F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
            for p in range(perms)
        ],
    )
    return (
        cand.join(a, "doc_a")
        .join(c, "doc_b")
        .withColumn("matching", matching)
        .filter(F.col("matching") >= min_matching)
        .select(
            "doc_a",
            "doc_b",
            "matching",
            F.round(F.col("matching") / F.lit(float(perms)), 6).alias(
                "est_jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def streaming_minhash_signatures(
    doc_stream: DataFrame, perms: int = 16
) -> DataFrame:
    """The minhash sketch as a STREAMING aggregation: per-document
    min registers over the same md5 shingle hashes as the batch
    signature build -- state is exactly `perms` bigints per doc, the
    mergeable-sketch property (min is commutative/idempotent) making
    the incremental result bit-identical to the batch one no matter
    how documents split across micro-batches.  The shingle projection
    skips its closing distinct (a second stateful op is illegal
    upstream of a streaming agg; min is duplicate-insensitive).
    Drain with run_available_now(complete) and hand the sink to
    md5_minhash_pairs(sig=...) -- the streaming half of the
    GPT-3/RefinedWeb dedup pipeline."""
    from .textstats import _token_shingles

    toks = _token_shingles(doc_stream, 3, distinct=False).withColumnRenamed(
        "sh", "tok"
    )
    base = f"({_H60.format(v='tok')} % 2147483647)"
    aggs = [
        F.min(
            F.expr(f"({base} * {a} + {b}) % 2305843009213693951")
        ).alias(f"m{p}")
        for p, (a, b) in enumerate(minhash_perm_constants(perms))
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def md5_simhash_clusters(
    documents: DataFrame,
    hamming_k: int = 3,
    max_iterations: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Two-stage dedupe over the md5 simhash: LSH pairs -> star-
    contraction connected components; singletons cluster to themselves
    (Stage2Reducer/SetUnionFinder shape, fully oracle-checkable).

    `pairs`: optionally inject the (doc_a, doc_b, ...) output of
    md5_simhash_pairs, already materialized -- a query server running
    both the pair and cluster queries amortizes the whole LSH join."""
    if pairs is None:
        pairs = md5_simhash_pairs(documents, hamming_k=hamming_k)
    from ..loopscope import known_rows, stamp_rows

    # a select() loses the row-count stamp a shared materialized pair
    # table carries -- re-stamp so the star-contraction loop can size
    # its shuffles (r10-opt; see loopscope)
    pairs = stamp_rows(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        known_rows(pairs),
    )
    comp = connected_components(pairs, max_iterations=max_iterations).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
        )
        .orderBy("doc_id")
    )


def cluster_representatives(
    documents: DataFrame,
    clusters: DataFrame | None = None,
    hamming_k: int = 3,
) -> DataFrame:
    """Canonical-document selection per near-dup cluster: keep the
    highest-token-count member (doc_id tiebreak) with the cluster
    size -- the 'keep best, drop the rest' step every dedup pipeline
    runs after clustering (the reference's dupe sets keep one URL per
    match set the same way; Stage2Reducer emits the set, the consumer
    picks the representative).

    One shuffle on cluster (window rank + size share the partition);
    token counting is the proven-parity Column expression. `clusters`:
    optionally inject a precomputed (doc_id, cluster) labeling."""
    from ..functions.text import token_count_expr

    if clusters is None:
        clusters = md5_simhash_clusters(documents, hamming_k=hamming_k)
    scored = documents.select(
        "doc_id", token_count_expr(F.col("text")).alias("tokens")
    )
    j = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("tokens"), F.asc("doc_id")
    )
    ws = Window.partitionBy("cluster")
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(ws))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("tokens").alias("rep_tokens"),
            "cluster_size",
        )
        .orderBy("cluster")
    )


def _ws_token_sets(documents: DataFrame, shingle: int = 5) -> DataFrame:
    """(doc_id, tokens, n): distinct `shingle`-gram word shingles per
    document (Broder shingling) -- the discriminative set unit for
    the prefix-filtered joins below. Unigram sets are useless on a
    small-vocabulary corpus (every document looks like every other);
    w-shingles carry word ORDER, so only genuine near-dups/quotes
    overlap. Documents shorter than `shingle` words are out of scope
    (they cannot carry a full shingle of evidence).

    The word array is hoisted into its own projection before the
    per-index transform -- an expression referenced inside a
    transform lambda is re-evaluated per element (quadratic for a
    split)."""
    w = shingle
    return (
        documents.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
        )
        .filter(F.size("ws") >= w)
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(1, size(ws) - {w - 1}),"
                f" i -> concat_ws(' ', slice(ws, i, {w}))))"
            ).alias("tokens"),
        )
        .withColumn("n", F.size("tokens"))
    )


def _prefix_rows(
    toks: DataFrame, prefix_len: F.Column
) -> DataFrame:
    """Explode each document's tokens ranked globally-rarest-first
    (ascending document frequency, token text tiebreak) and keep only
    the first `prefix_len` of them.

    The global order is (df, tok) itself -- no dense global rank is
    materialized, so there is no single-partition vocabulary sort:
    the frequency table is an equi-join and the per-document ordering
    is a doc_id-partitioned window (each partition is one document's
    handful of tokens)."""
    tok_rows = toks.select("doc_id", "n", F.explode("tokens").alias("tok"))
    freq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    return (
        tok_rows.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "n", "tok")
    )


def setsim_prefix_pairs(
    documents: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle: int = 5,
) -> DataFrame:
    """EXACT shingle-set Jaccard join via prefix filtering (AllPairs /
    PPJoin family -- Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Where ngram_jaccard_pairs bounds the candidate space with (lang,
    length-band) blocking and minhash/simhash approximate it with
    sketches, this is the canonical exact algorithm at scale: order
    every document's shingle set globally-rarest-first and join ONLY
    the prefix -- the first n - ceil(t*n) + 1 tokens. Any pair with
    Jaccard >= t must share a prefix token in BOTH prefixes
    (Chaudhuri et al. ICDE'06 prefix-filter theorem), so stopword-
    dominated fan-out never reaches the join: 'the' lands in a prefix
    only for documents made of nothing but stopwords. Candidates are
    then verified exactly, so the output is identical to the naive
    all-pairs join.

    The threshold is a rational num/den and every gate is integer
    arithmetic (ceil(t*n) = (num*n + den - 1) DIV den; jaccard >= t
    <=> den*inter >= num*union), so the pair set is bit-identical on
    any engine. jaccard_micro = floor(inter*1e6/union) -- exact
    integer division, never a double.

    Scale shape: one groupBy for document frequencies, one doc_id
    window for prefixes, one equi-join on prefix token (rare tokens
    => small buckets by construction), one verify join against the
    bounded token arrays. No quadratic stage, no global sort.
    Reference analog: the deduper's candidate generation
    (deduper/Stage1Mapper.java:187-207) with exact verification in
    place of hamming sketches.
    """
    num, den = threshold_num, threshold_den
    toks = _ws_token_sets(documents, shingle=shingle).transform(ckpt_eager)
    # prefix length: n - ceil(t*n) + 1, integer-exact
    plen = (
        F.col("n")
        - F.expr(f"CAST(({num} * n + {den} - 1) DIV {den} AS INT)")
        + F.lit(1)
    )
    pre = _prefix_rows(toks, plen)
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune: jaccard <= min(n)/max(n), so
            # den*min >= num*max must hold -- output-neutral
            & (F.col("a.n") * den >= F.col("b.n") * num)
            & (F.col("b.n") * den >= F.col("a.n") * num),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("toks_a"),
        F.col("n").alias("na"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tokens").alias("toks_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "inter_size",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
        )
        .withColumn(
            "union_size",
            (F.col("na") + F.col("nb") - F.col("inter_size")).cast("long"),
        )
        .filter(F.col("inter_size") * den >= F.col("union_size") * num)
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            "union_size",
            F.expr("CAST(inter_size * 1000000 DIV union_size AS BIGINT)").alias(
                "jaccard_micro"
            ),
        )
        # result-ordering sort only: the range partitioner's sampling
        # job otherwise re-runs the candidate join + exact verify
        # (r10-opt, the _share_sort discipline of r9 wave 2)
        .transform(ckpt_lazy)
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    documents: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle: int = 5,
) -> DataFrame:
    """Directed containment join: |A∩B| / |A| >= t -- 'document A is
    (mostly) quoted inside document B'.

    Jaccard misses subset relationships (a paragraph pasted into a
    10x-longer page has tiny Jaccard but containment ~1), and real
    corpus hygiene needs exactly this: boilerplate inclusion, quoted
    reposts, template wrap detection. Asymmetric prefix filter: the
    contained side A needs overlap >= ceil(t*na), so only its
    na - ceil(t*na) + 1 rarest tokens generate candidates; the
    containing side B is probed on its FULL token set (its size is
    unbounded relative to A, so B cannot be prefix-shortened).
    Exact verify on the bounded token arrays; integer thresholds as
    in setsim_prefix_pairs; containment_micro = floor(inter*1e6/na).

    Output is directed (doc_a contained-in doc_b), doc_a != doc_b;
    nb >= ceil(t*na) prunes impossible pairs before the join.
    """
    num, den = threshold_num, threshold_den
    toks = _ws_token_sets(documents, shingle=shingle).transform(ckpt_eager)
    plen = (
        F.col("n")
        - F.expr(f"CAST(({num} * n + {den} - 1) DIV {den} AS INT)")
        + F.lit(1)
    )
    pre = _prefix_rows(toks, plen)
    full = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.explode("tokens").alias("tok"),
    )
    cand = (
        pre.alias("a")
        .join(
            full.alias("f"),
            (F.col("a.tok") == F.col("f.tok"))
            & (F.col("a.doc_id") != F.col("f.doc_b"))
            # overlap <= nb, so nb >= ceil(t*na): den*nb >= num*na
            & (F.col("f.nb") * den >= F.col("a.n") * num),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("f.doc_b").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("toks_a"),
        F.col("n").alias("na"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("tokens").alias("toks_b")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "inter_size",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
        )
        .filter(F.col("inter_size") * den >= F.col("na") * num)
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            F.col("na").cast("long").alias("size_a"),
            F.expr("CAST(inter_size * 1000000 DIV na AS BIGINT)").alias(
                "containment_micro"
            ),
        )
        # result-ordering sort only (see setsim_prefix_pairs)
        .transform(ckpt_lazy)
        .orderBy("doc_a", "doc_b")
    )


def md5_minhash_clusters(
    documents: DataFrame,
    perms: int = 16,
    min_matching: int = 13,
    max_iterations: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Two-stage MinHash dedupe: banded-LSH pairs -> star-contraction
    connected components -> (doc_id, cluster); singletons label
    themselves. The MinHash twin of md5_simhash_clusters -- most
    production fuzzy-dedup pipelines (GPT-3/The Pile/RefinedWeb
    lineage) cluster MinHash matches exactly this way, then keep one
    representative per cluster (compose with
    cluster_representatives(clusters=...)).

    Same SetUnionFinder shape as the reference
    (DeduperUtils.java:728-917); the pair stage reuses
    md5_minhash_pairs (engine-replayable Carter-Wegman permutations
    over one md5 per shingle)."""
    if pairs is None:
        pairs = md5_minhash_pairs(
            documents, perms=perms, min_matching=min_matching
        )
    from ..loopscope import known_rows, stamp_rows

    # re-stamp the row count through the rename so the star-
    # contraction loop can size its shuffles (r10-opt; see loopscope)
    edges = stamp_rows(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        known_rows(pairs),
    )
    comp = connected_components(edges, max_iterations=max_iterations).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
        )
        .orderBy("doc_id")
    )


def editdist_pairs(
    strings: DataFrame, k: int = 2, name_col: str = "name"
) -> DataFrame:
    """EXACT edit-distance similarity join via PassJoin segment
    indexing (Li, Deng, Feng: "PassJoin: a partition-based method for
    similarity joins", VLDB'11) -- fuzzy host/URL matching
    (typosquats, mirror hosts, OCR'd link rot) without an O(n^2)
    scan.

    Pigeonhole core: partition every string into k+1 disjoint
    segments; a pair within edit distance k aligns those segments to
    disjoint regions of the other string, and with at most k edits at
    least one segment survives UNTOUCHED -- it occurs verbatim in the
    partner, shifted at most k positions. So the index side emits
    k+1 (segment_no, source_len, segment) rows per string and the
    probe side emits every substring that could match a segment of a
    compatible partition scheme: target lengths n in [m-k, m] (the
    indexed side is the shorter), start positions within +-k of the
    segment's home position. Candidates = one equi-join on
    (segment_no, target_len, text); verify = the built-in
    threshold-bounded levenshtein (JVM codegen, early exit past k).

    Probe fan-out is the constant (k+1)^2 (2k+1) (45 rows per string
    at k=2) -- independent of corpus size, so the join stays linear
    at 100 TB while a length-banded nested loop is quadratic within
    bands. Output is exact: (name_a, name_b, distance), name_a <
    name_b, distance <= k. Strings of length <= k are out of scope
    (they cannot be cut into k+1 non-empty segments); callers route
    such micro-strings through a direct product if they care.

    Segment convention (both emit sides must agree): base length
    n DIV (k+1), remainder distributed to the LAST (n MOD (k+1))
    segments; 1-based start positions.
    """
    kp1 = k + 1
    names = (
        strings.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull() & (F.length("name") > k))
        .distinct()
        .transform(ckpt_eager)
    )

    def seg_len(n, i):
        # length of segment i (0-based) of an n-char string
        return (n / F.lit(kp1)).cast("int") + F.when(
            F.lit(i) >= F.lit(kp1) - (n % kp1), 1
        ).otherwise(0)

    def seg_pos(n, i):
        # 1-based start of segment i: 1 + i*base + overflow_before
        base = (n / F.lit(kp1)).cast("int")
        extra = F.greatest(F.lit(0), F.lit(i) - (F.lit(kp1) - (n % kp1)))
        return F.lit(1) + F.lit(i) * base + extra

    n_idx = F.length("name")
    idx = names.select(
        F.col("name").alias("name_r"),
        n_idx.alias("n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("segno"),
                        F.substring(
                            F.col("name"),
                            seg_pos(n_idx, i),
                            seg_len(n_idx, i),
                        ).alias("seg"),
                    )
                    for i in range(kp1)
                ]
            )
        ).alias("sg"),
    ).select("name_r", "n", F.col("sg.segno"), F.col("sg.seg"))

    # The (k+1)^2 * (2k+1) probe entries are generated as ONE SQL
    # string parsed JVM-side in a single call: building the same tree
    # through py4j Column operators (~8 calls per entry, 45 entries
    # at k=2) made DataFrame CONSTRUCTION the dominant cost of the
    # whole gate even after wave-3's subtree hoisting (measured 4x
    # cheaper as a parsed string on the 45-entry shape; r9-opt wave
    # 6). The SQL mirrors seg_len/seg_pos exactly: `/` is double
    # division then CAST(... AS INT) in both forms, so every value
    # -- and the gate's output -- is unchanged.
    m_sql = "length(name)"
    probe_entries = []
    for n_off in range(kp1):  # target length n = m - n_off
        n_sql = f"({m_sql} - {n_off})"
        base_sql = f"CAST({n_sql}/{kp1} AS INT)"
        mod_sql = f"({n_sql} % {kp1})"
        for i in range(kp1):
            pl = (
                f"({base_sql} + (CASE WHEN {i} >= {kp1} - {mod_sql} "
                f"THEN 1 ELSE 0 END))"
            )
            pp = (
                f"(1 + {i} * {base_sql} "
                f"+ greatest(0, {i} - ({kp1} - {mod_sql})))"
            )
            base_valid = f"{n_sql} > {k} AND {pl} > 0"
            end_slack = f"({pl} - 1 - {m_sql})"  # q + slack <= 0 iff ok
            for shift in range(-k, k + 1):
                q = f"({pp} + {shift})" if shift else pp
                probe_entries.append(
                    f"CASE WHEN {base_valid} AND {q} >= 1 "
                    f"AND {q} + {end_slack} <= 0 "
                    f"THEN struct({i} AS segno, {n_sql} AS n, "
                    f"substring(name, {q}, {pl}) AS sub) END"
                )
    probe_sql = (
        "array_distinct(filter(array("
        + ",".join(probe_entries)
        + "), x -> x IS NOT NULL))"
    )
    probe = names.select(
        F.col("name").alias("name_s"),
        F.explode(F.expr(probe_sql)).alias("pr"),
    ).select("name_s", F.col("pr.segno"), F.col("pr.n"), F.col("pr.sub"))

    cand = (
        idx.join(
            probe,
            (idx["segno"] == probe["segno"])
            & (idx["n"] == probe["n"])
            & (idx["seg"] == probe["sub"])
            & (idx["name_r"] != probe["name_s"]),
        )
        .select(
            F.least("name_r", "name_s").alias("name_a"),
            F.greatest("name_r", "name_s").alias("name_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "distance",
            F.expr(f"levenshtein(name_a, name_b, {k})").cast("long"),
        )
        .filter(F.col("distance") >= 0)
        # the sort's range sampling would re-run the candidate join +
        # verify; materialize the small pair rows first (r9-opt)
        .transform(ckpt_lazy)
        .orderBy("name_a", "name_b")
    )


def minhash_quality_report(
    documents: DataFrame,
    perms: int = 16,
    min_matching: int = 13,
    tokens: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Sketch-vs-exact evaluation as a first-class query: score the
    banded MinHash join against the EXACT Jaccard join on the SAME
    token unit and the matched threshold, returning one row of
    (tp, fp, fn, precision_micro, recall_micro).

    'Measure, don't guess' applied to dedup itself: every sketch tier
    in this module carries a recall contract in pytest, but a
    production pipeline re-verifies on ITS corpus -- skew, document
    length, and vocabulary shape all move the S-curve. Both sides
    share one shingle table: the exact side is the token-equi-join
    intersection count (no arrays, no quadratic scan), thresholded at
    min_matching/perms -- the similarity level where the sketch
    CLAIMS a pair; the sketch side is md5_minhash_pairs verbatim.
    TP/FP/FN are exact set counts; precision/recall are integer
    micro-units (exact division, engine-stable).
    """
    num, den = min_matching, perms
    toks = (tokens if tokens is not None else _md5_tokens(documents)).transform(ckpt_eager)
    sz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = toks.alias("a").join(
        sz.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"),
        F.col("a.doc_id") == F.col("a_id"),
    )
    b = toks.alias("b").join(
        sz.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"),
        F.col("b.doc_id") == F.col("b_id"),
    )
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("na"),
            F.col("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    exact = inter.filter(
        F.col("i") * den >= (F.col("na") + F.col("nb") - F.col("i")) * num
    ).select("doc_a", "doc_b", F.lit(True).alias("in_exact"))
    # pass `pairs` to score an externally shared LSH pair table (the
    # per-session pair cache) instead of rebuilding sign+band+verify
    sketch = (
        pairs
        if pairs is not None
        else md5_minhash_pairs(
            documents, perms=perms, min_matching=min_matching, tokens=toks
        )
    ).select("doc_a", "doc_b", F.lit(True).alias("in_sketch"))
    joined = exact.join(sketch, ["doc_a", "doc_b"], "full_outer")
    tp = F.sum(
        (F.col("in_exact").isNotNull() & F.col("in_sketch").isNotNull()).cast(
            "long"
        )
    )
    fp = F.sum(
        (F.col("in_exact").isNull() & F.col("in_sketch").isNotNull()).cast(
            "long"
        )
    )
    fn = F.sum(
        (F.col("in_exact").isNotNull() & F.col("in_sketch").isNull()).cast(
            "long"
        )
    )
    return joined.agg(
        F.lit(perms).alias("perms"),
        F.lit(min_matching).alias("min_matching"),
        F.coalesce(tp, F.lit(0)).alias("tp"),
        F.coalesce(fp, F.lit(0)).alias("fp"),
        F.coalesce(fn, F.lit(0)).alias("fn"),
    ).select(
        "perms",
        "min_matching",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None))
        .otherwise(
            F.expr("CAST(tp * 1000000 DIV (tp + fp) AS BIGINT)")
        )
        .alias("precision_micro"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None))
        .otherwise(
            F.expr("CAST(tp * 1000000 DIV (tp + fn) AS BIGINT)")
        )
        .alias("recall_micro"),
    )
