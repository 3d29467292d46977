"""Host/domain webgraph rollups + dense id assignment + the
deterministic training shuffle.

The webgraph rollup semantics follow the published CommonCrawl
webgraph methodology (reversed host-name nodes, intra-host links
dropped at host level, eTLD+1 collapse with distinct-host-pair
weights at domain level, dense ids by sorted node name)."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_crawler_spark.functions import urls
from commoncrawl_crawler_spark.operators import sampling, webgraph


def _links(spark):
    return spark.createDataFrame(
        [
            ("www.a.com", "www.a.com"),       # intra-host: dropped
            ("www.a.com", "blog.a.com"),      # host edge, domain loop
            ("www.a.com", "b.co.uk"),
            ("www.a.com", "b.co.uk"),         # multiplicity 2
            ("blog.a.com", "shop.b.co.uk"),
            ("B.CO.UK.", "www.a.com"),        # case + trailing dot
        ],
        "src_host string, dst_host string",
    )


def test_root_domain_expr_matches_python(spark):
    cases = [
        "www.Example.COM", "example.co.uk", "shop.example.co.uk",
        "a.b.example.co.uk", "user.github.io", "x.s3.amazonaws.com",
        "s3.amazonaws.com", "localhost", "foo.ck", "bar.foo.ck",
        "www.ck", "a.www.ck", "example.com.", "deep.sub.example.com",
        "co.uk", "uk", "x.blogspot.com", "site.tokyo.jp",
        "shop.example.com.au", "gov.ie", "x.gov.ie",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "h string")
    got = [
        r["r"]
        for r in df.select(
            urls.root_domain_expr(F.col("h")).alias("r")
        ).collect()
    ]
    assert got == [urls.root_domain(c) for c in cases]


def test_root_domain_rev_matches_forward(spark):
    hosts = [
        "www.example.com", "example.co.uk", "shop.example.co.uk",
        "a.b.example.co.uk", "user.github.io", "x.s3.amazonaws.com",
        "s3.amazonaws.com", "localhost", "foo.ck", "bar.foo.ck",
        "www.ck", "a.www.ck", "deep.sub.example.com", "co.uk", "uk",
        "x.blogspot.com", "site.tokyo.jp", "shop.example.com.au",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    rev = urls.reverse_host_expr(F.col("h"))
    got = df.select(
        urls.root_domain_rev_expr(rev).alias("a"),
        urls.reverse_host_expr(
            urls.root_domain_expr(F.col("h"))
        ).alias("b"),
    ).collect()
    for h, r in zip(hosts, got):
        assert r["a"] == r["b"], h


def test_host_graph_drops_intra_host_and_counts_multiplicity(spark):
    rows = {
        (r["src_host_rev"], r["dst_host_rev"]): r["n_links"]
        for r in webgraph.host_graph(_links(spark)).collect()
    }
    assert rows == {
        ("com.a.www", "com.a.blog"): 1,
        ("com.a.www", "uk.co.b"): 2,
        ("com.a.blog", "uk.co.b.shop"): 1,
        ("uk.co.b", "com.a.www"): 1,  # normalized from B.CO.UK.
    }


def test_domain_graph_collapses_and_drops_domain_loops(spark):
    rows = {
        (r["src_domain_rev"], r["dst_domain_rev"]):
            (r["n_host_pairs"], r["n_links"])
        for r in webgraph.domain_graph(
            webgraph.host_graph(_links(spark))
        ).collect()
    }
    # www.a.com->blog.a.com is a domain self-loop: gone; the two
    # a.com->b.co.uk host pairs collapse into one domain edge
    assert rows == {
        ("com.a", "uk.co.b"): (2, 3),
        ("uk.co.b", "com.a"): (1, 1),
    }


def test_dense_node_ids_are_sorted_rank_under_any_bucketing(spark):
    hg = webgraph.host_graph(_links(spark))
    want = [
        ("com.a.blog", 0), ("com.a.www", 1),
        ("uk.co.b", 2), ("uk.co.b.shop", 3),
    ]
    for buckets, sample in ((1, 1), (3, 2), (32, 4096)):
        got = sorted(
            (r["name"], r["node_id"])
            for r in webgraph.dense_node_ids(
                hg, "src_host_rev", "dst_host_rev",
                buckets=buckets, sample_target=sample,
            ).collect()
        )
        assert got == want, (buckets, sample)


def test_host_graph_with_ids_joins_both_endpoints(spark):
    rows = webgraph.host_graph_with_ids(_links(spark)).collect()
    by_name = {}
    for r in rows:
        by_name[r["src_host_rev"]] = r["src_id"]
        by_name[r["dst_host_rev"]] = r["dst_id"]
    names = sorted(by_name)
    assert [by_name[n] for n in names] == list(range(len(names)))


def test_training_shuffle_is_deterministic_and_contiguous(spark):
    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = sampling.training_shuffle(
        df, key_col="doc_id", seed="epoch0", n_shards=4
    )
    rows = out.collect()
    assert len(rows) == 200
    # every shard's positions are 1..count(shard), no gaps
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # identical under a different partition layout
    again = sampling.training_shuffle(
        df.repartition(7), key_col="doc_id", seed="epoch0", n_shards=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a different seed yields a different permutation
    other = sampling.training_shuffle(
        df, key_col="doc_id", seed="epoch1", n_shards=4
    ).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other))
    # output-column collisions raise instead of silently overwriting
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shard"):
        sampling.training_shuffle(
            df.withColumn("shard", F.lit(1)), key_col="doc_id"
        )


def test_webgraph_ranks_ordinals_follow_scores(spark):
    # star: everyone links to hub -> hub has the top pagerank
    links = spark.createDataFrame(
        [("a.com", "hub.com"), ("b.com", "hub.com"),
         ("c.com", "hub.com"), ("hub.com", "a.com")],
        "src_host string, dst_host string",
    )
    out = webgraph.ranks(webgraph.host_graph(links), iterations=3)
    rows = sorted(out.collect(), key=lambda r: r["rank_ordinal"])
    assert rows[0]["host_rev"] == "com.hub"
    assert [r["rank_ordinal"] for r in rows] == list(range(len(rows)))
    # ordinal order == (pagerank desc, name asc)
    key = [(-r["pagerank"], r["host_rev"]) for r in rows]
    assert key == sorted(key)
    # node ids are still the sorted-name ranks
    by_name = sorted(rows, key=lambda r: r["host_rev"])
    assert [r["node_id"] for r in by_name] == list(range(len(rows)))


def test_root_domain_expr_seeded_differential(spark):
    """Batch differential vs the Python PSL kernel over 300 seeded
    random hosts built from suffix-colliding label pools (the same
    seeded-differential discipline as the robots/BPE suites)."""
    import random

    rng = random.Random(40517)
    labels = ["a", "bb", "ccc", "co", "uk", "com", "jp", "tokyo",
              "ck", "www", "gov", "ie", "github", "io", "x0"]
    hosts = [
        ".".join(rng.choice(labels) for _ in range(rng.randint(1, 5)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    got = [
        r["r"]
        for r in df.select(
            urls.root_domain_expr(F.col("h")).alias("r")
        ).collect()
    ]
    want = [urls.root_domain(h) for h in hosts]
    assert got == want


def _graph_links(spark, n_hosts=60, n_links=600):
    import random

    rng = random.Random(11)
    hosts = [f"h{i}.site{i % 9}.com" for i in range(n_hosts)]
    return spark.createDataFrame(
        [(rng.choice(hosts), rng.choice(hosts)) for _ in range(n_links)],
        "src_host string, dst_host string",
    )


def test_dense_rank_by_key_one_bucket_equals_bucketed(spark, monkeypatch):
    names = spark.createDataFrame(
        [(f"n{(i * 7919) % 500:04d}",) for i in range(500)], "name string"
    )
    one = sorted(map(tuple, webgraph.dense_rank_by_key(names).collect()))
    # one key per bucket budget: the sample/cut/offset path runs
    monkeypatch.setenv("SPARK_GRAFT_LOOP_ROWS_PER_PART", "1")
    bucketed = sorted(
        map(tuple, webgraph.dense_rank_by_key(names, buckets=7).collect())
    )
    assert one == bucketed
    assert [r[1] for r in one] == list(range(500))


def test_ranks_matches_oracle_gate_on_both_ranker_paths(
    spark, sf_correct, monkeypatch
):
    import __spark_entry__ as entrymod

    from .oracle_harness import compare_query

    query = entrymod.queries()["graph_webgraph_ranks"]
    sql = entrymod.oracle_sql()["graph_webgraph_ranks"]
    for rows_per_part in (None, "3"):
        if rows_per_part:
            monkeypatch.setenv("SPARK_GRAFT_LOOP_ROWS_PER_PART", rows_per_part)
        res = compare_query(spark, sf_correct, query, sql)
        assert res["values_match"], (rows_per_part, res)


def test_ranks_job_count_on_small_graph(spark, tmp_path, count_jobs):
    # the host graph as a pipeline step hands it over: read back from
    # parquet, no stamped row count
    path = str(tmp_path / "host_edges")
    webgraph.host_graph(_graph_links(spark)).write.parquet(path)
    out = str(tmp_path / "ranks")
    jobs = count_jobs(
        lambda: webgraph.ranks(spark.read.parquet(path)).write.parquet(out),
    )
    assert jobs <= 12, jobs
    assert spark.read.parquet(out).count() == 60
