"""Variance experiment: repro the bench's pass-to-pass stalls on a
subset of queries and test mitigations.

Usage:
  PYTHONPATH=/root/repo python tools/exp_variance.py MODE [passes]

MODE is a comma list of flags:
  base        -- bench-identical behavior
  gc          -- gc.collect() after every query (frees py4j refs so
                 ContextCleaner unpersists dead localCheckpoint RDDs)
  mem         -- driver memory 24g instead of the 8g default
  gclog       -- -Xlog:gc on the driver JVM (stderr)

Prints per-query pass times + storage-memory telemetry.
"""

from __future__ import annotations

import gc as _gc
import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

QUERIES = [
    "graph_webgraph_ranks",
    "graph_pagerank_converged",
    "dedup_editdist_pairs",
    "graph_pagerank_personalized",
    "dedup_minhash_clusters",
    "dedup_sketch_quality",
    "graph_opic",
    "dq_profile_orders",
    "graph_redirect_resolve",
    "stream_stream_attribution",
    "fn_parse_headers",
    "dedup_winnow_pairs",
    "sim_pq_trained_topk",
    "dedup_ngram_jaccard",
    "graph_triangles",
    "graph_random_walks",
    "text_paragraph_dedup",
]


def main() -> None:
    mode = set((sys.argv[1] if len(sys.argv) > 1 else "base").split(","))
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from commoncrawl_crawler_spark.session import build_session

    extra = {}
    if "mem" in mode:
        os.environ["SPARK_DRIVER_MEM"] = "24g"
    if "gclog" in mode:
        extra["spark.driver.extraJavaOptions"] = "-Xlog:gc"
    spark = build_session(app_name="ccspark-exp", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    from commoncrawl_crawler_spark.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, t, sf_dir).count()

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def storage_info():
        try:
            infos = jsc.getRDDStorageInfo()
            n = len(infos)
            mem = sum(i.memSize() for i in infos)
            return n, mem // (1 << 20)
        except Exception:
            return -1, -1

    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    for p in range(passes):
        for name in QUERIES:
            sc.setJobDescription(f"exp:{name}:p{p}")
            t0 = time.monotonic()
            qs[name](spark, sf_dir).collect()
            dt = time.monotonic() - t0
            samples[name].append(round(dt, 3))
            if "gc" in mode:
                _gc.collect()
        n, mem = storage_info()
        print(
            f"# after pass {p}: cached_rdds={n} storage_mb={mem}",
            file=sys.stderr, flush=True,
        )
    print(json.dumps(samples))
    spark.stop()


if __name__ == "__main__":
    main()
