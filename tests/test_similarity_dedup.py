"""Behavioral tests for sketch-based dedup + ANN (the parts the
DuckDB oracle cannot express)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from commoncrawl_crawler_spark.operators import dedup, similarity
from commoncrawl_crawler_spark.shipping import ensure_shipped
from commoncrawl_crawler_spark.sources import load_table


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(200, 64)
    rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(200)]
    for i in range(20):
        noisy = base[i] + 0.15 * rng.randn(64)
        rows.append(Row(vec_id=1000 + i, embedding=[float(x) for x in noisy]))
    return spark.createDataFrame(rows)


def test_lsh_topk_recall_on_near_dups(spark, planted_embeddings):
    """Multi-table hyperplane LSH must find planted near-dups
    (cos ~0.95) with high recall at default settings."""
    probes = planted_embeddings.filter(F.col("vec_id") >= 1000).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    bf = {
        (r.probe_id, r.vec_id)
        for r in similarity.brute_force_topk(planted_embeddings, probes, 1).collect()
    }
    ls = {
        (r.probe_id, r.vec_id)
        for r in similarity.lsh_topk(planted_embeddings, probes, dim=64, k=1).collect()
    }
    # every probe's true nearest neighbor is its planted source vector
    assert len(bf) == 20
    recall = len(bf & ls) / len(bf)
    assert recall >= 0.9, f"recall {recall}"


def test_md5_lsh_topk_recall_and_determinism(spark, planted_embeddings):
    """The md5-twin LSH (oracle-checkable planes) must also recover
    planted near-dups, and its bucket keys must be bit-stable across
    partitionings (integer quantization removes float-order effects)."""
    probes = planted_embeddings.filter(F.col("vec_id") >= 1000).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    bf = {
        (r.probe_id, r.vec_id)
        for r in similarity.brute_force_topk(planted_embeddings, probes, 1).collect()
    }
    ls = {
        (r.probe_id, r.vec_id)
        for r in similarity.md5_lsh_topk(
            planted_embeddings, probes, dim=64, k=1
        ).collect()
    }
    recall = len(bf & ls) / len(bf)
    assert recall >= 0.9, f"recall {recall}"
    # the fast numpy-int64 path must equal the Column-expr reference
    # (which is the oracle's SQL) and be stable under repartitioning
    udf = similarity.md5_lsh_buckets_udf(64, 6, 8)

    def buckets(df, ref=False):
        col = (
            similarity.md5_lsh_buckets_from_quantized(
                similarity._quantize(F.col("embedding")), 64, 6, 8
            )
            if ref
            else udf(F.col("embedding"))
        )
        return {
            (r.vec_id, tuple(r.bks))
            for r in df.select("vec_id", col.alias("bks")).collect()
        }

    fast = buckets(planted_embeddings)
    assert fast == buckets(planted_embeddings, ref=True)
    assert fast == buckets(planted_embeddings.repartition(13))


def test_md5_hyperplane_signs_are_balanced():
    """Sanity: md5 parity gives ~50/50 +-1 components (a skewed plane
    family would collapse every vector into few buckets)."""
    signs = similarity.md5_hyperplane_signs(64, 6, 8)
    flat = [s for arr in signs.values() for s in arr]
    frac = sum(1 for s in flat if s == 1) / len(flat)
    assert 0.45 < frac < 0.55, frac


def test_brute_force_topk_exact(spark, planted_embeddings):
    probes = planted_embeddings.filter(F.col("vec_id") == 1000).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    top = similarity.brute_force_topk(planted_embeddings, probes, 1).collect()
    assert top[0].vec_id == 0  # planted copy of vec 0
    assert top[0].cosine > 0.9


def test_simhash_lsh_finds_planted_near_dup(spark):
    base = (
        "spark engine dedupe pipeline with banding and hamming verify " * 6
    )
    near = base.replace("verify", "cherify", 1)  # small edit
    far = "totally different document about something else entirely " * 6
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=near),
            Row(doc_id=3, text=far),
        ]
    )
    pairs = dedup.simhash_candidate_pairs(docs, hamming_k=6, allow_partial_recall=True).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_connected_components_merges_match_sets(spark):
    edges = spark.createDataFrame(
        [
            Row(src=1, dst=2),
            Row(src=2, dst=3),
            Row(src=10, dst=11),
            Row(src=20, dst=20),
        ]
    )
    comp = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_udf_queries_survive_foreign_cwd(spark, sf_correct):
    """Pandas-UDF operators must work when the driving process did
    not chdir into the repo (the driver harness scenario): package
    code is shipped to workers via addPyFile."""
    ensure_shipped(spark)
    docs = load_table(spark, "documents", sf_correct)
    assert dedup.simhash_candidate_pairs(docs, hamming_k=3).count() > 0


def test_lsh_bucket_cap_bounds_degenerate_corpora(spark):
    # 3000 identical docs put every band row in ONE bucket: without
    # the cap the bucket join is ~9M pairs; with it the bucket drops
    # and the query stays linear. A planted near-dup pair in a small
    # bucket must still come through.
    import time

    rows = [Row(doc_id=i, text="the same boilerplate text " * 10) for i in range(3000)]
    base = " ".join(f"unique{i} token{i * 7 % 13}" for i in range(40))
    rows += [
        Row(doc_id=9001, text=base + " ending alpha"),
        Row(doc_id=9002, text=base + " ending beta"),
    ]
    docs = spark.createDataFrame(rows)
    t0 = time.monotonic()
    got = dedup.md5_simhash_pairs(docs, hamming_k=10, max_bucket=100, allow_partial_recall=True).collect()
    elapsed = time.monotonic() - t0
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert (9001, 9002) in pairs  # small-bucket pair survives
    assert all(a >= 9000 for a, _ in pairs)  # degenerate bucket dropped
    assert elapsed < 60, f"degenerate corpus took {elapsed:.0f}s"


def test_numpy_lsh_bucket_cap(spark):
    rows = [Row(doc_id=i, text="identical words everywhere " * 8) for i in range(500)]
    docs = spark.createDataFrame(rows)
    got = dedup.simhash_candidate_pairs(docs, hamming_k=3, max_bucket=50).collect()
    assert got == []  # every bucket oversized -> dropped, no blowup


def test_hard_negative_mining_excludes_same_label(spark):
    from commoncrawl_crawler_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], "a"),   # anchor
        (1, [0.99, 0.1], "a"),  # same label: nearest but EXCLUDED
        (2, [0.9, 0.3], "b"),   # hard negative (closest other-label)
        (3, [0.0, 1.0], "b"),   # easy negative
        (4, [0.8, 0.5], "c"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    anchors = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS probe_id", "embedding", "label"
    )
    out = similarity.hard_negative_mining(emb, anchors, k=2).collect()
    assert [(r["vec_id"], r["rnk"]) for r in out] == [(2, 1), (4, 2)]
    assert all(r["neg_label"] != r["anchor_label"] for r in out)
    assert 1 not in {r["vec_id"] for r in out}
