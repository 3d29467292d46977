"""Query-server cache behavior + stateful streaming sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_crawler_spark.operators import sessions
from commoncrawl_crawler_spark.plans import query_api
from commoncrawl_crawler_spark.sources import load_table
from commoncrawl_crawler_spark.streaming import jobs


def _space_mtimes(*paths):
    """Pin strictly increasing mtimes on micro-batch source files.

    The file stream source orders batches by modification time; two
    quick successive writes can land in the same timestamp granularity
    under suite load, scrambling which file becomes batch 1."""
    import os
    import time

    now = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (now + i * 10, now + i * 10))


def _domains(spark, sf):
    return query_api.domain_stats_from_documents(
        load_table(spark, "documents", sf)
    )


def test_query_cache_written_once_and_reused(spark, tmp_path, sf_smoke):
    server = query_api.QueryServer(spark, str(tmp_path))
    info = query_api.ClientQueryInfo(
        sort_field="doc_count", ascending=False, page_size=3, tiebreak="domain"
    )
    qid = query_api.canonical_query_id(
        _domains(spark, sf_smoke), "domain_list", {"pattern": "^src.*"}, info
    )
    assert not server.cached_results_available(qid)
    first = server.domain_list_query(_domains(spark, sf_smoke), "^src.*", info)
    first.collect()
    assert server.cached_results_available(qid)
    # second call with a different page must reuse the cached parquet
    page2 = query_api.ClientQueryInfo(
        sort_field="doc_count", ascending=False, offset=3, page_size=3,
        tiebreak="domain",
    )
    second = server.domain_list_query(_domains(spark, sf_smoke), "^src.*", page2)
    # pages are disjoint and ordered
    a = [r["domain"] for r in first.collect()]
    b = [r["domain"] for r in second.collect()]
    assert not set(a) & set(b)


def test_query_cache_hits_on_non_os_path_uri(spark, tmp_path, sf_smoke):
    """The cache-availability check must go through the Hadoop
    FileSystem API: on an object-store prefix (s3a://, abfss://) a
    plain os.path.exists always answers False and the cache never
    hits. Exercised with an explicit file:// URI -- a string that IS
    Spark-writable but is NOT an OS path (os.path.exists rejects it),
    the same divergence an s3a:// prefix produces."""
    import os

    cache_uri = f"file://{tmp_path}/qcache"
    server = query_api.QueryServer(spark, cache_uri)
    info = query_api.ClientQueryInfo(
        sort_field="doc_count", ascending=False, page_size=3,
        tiebreak="domain",
    )
    qid = query_api.canonical_query_id(
        _domains(spark, sf_smoke), "domain_list", {"pattern": "^src.*"}, info
    )
    assert not server.cached_results_available(qid)
    server.domain_list_query(
        _domains(spark, sf_smoke), "^src.*", info
    ).collect()
    # the URI string is not an OS path (the failure mode under test) ...
    assert not os.path.exists(f"{cache_uri}/{qid}/_SUCCESS")
    # ... but the scheme-aware check finds the committed result
    assert server.cached_results_available(qid)
    # and the marker really exists where the URI points
    assert os.path.exists(f"{tmp_path}/qcache/{qid}/_SUCCESS")


def test_pagination_matches_full_sort(spark, tmp_path, sf_smoke):
    server = query_api.QueryServer(spark, str(tmp_path))
    full = (
        _domains(spark, sf_smoke)
        .filter(F.col("domain").rlike("^src.*"))
        .orderBy(F.col("doc_count").desc(), F.col("domain"))
        .collect()
    )
    pages = []
    for off in range(0, len(full) + 3, 3):
        info = query_api.ClientQueryInfo(
            sort_field="doc_count", ascending=False, offset=off, page_size=3,
            tiebreak="domain",
        )
        pages += server.domain_list_query(
            _domains(spark, sf_smoke), "^src.*", info
        ).collect()
    assert [r["domain"] for r in pages] == [r["domain"] for r in full]


def test_parquet_sink_checkpointed_exactly_once(spark, tmp_path, sf_smoke):
    """File sink + checkpoint: draining twice must not duplicate rows
    (offsets are committed in the checkpoint, so run 2 sees no new
    input)."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for _ in range(2):
        stream = jobs.read_events_stream(spark, sf_smoke).select(
            "event_id", "user_id", "ts"
        )
        jobs.run_to_parquet(stream, out, ckpt)
    from commoncrawl_crawler_spark.sources import load_table

    n_expected = load_table(spark, "events", sf_smoke).count()
    assert spark.read.parquet(out).count() == n_expected


def test_stateful_sessionize_matches_batch(spark, sf_smoke):
    batch = sessions.sessionize(
        load_table(spark, "events", sf_smoke), gap_minutes=60
    ).collect()
    stream = jobs.read_events_stream(spark, sf_smoke)
    streamed = jobs.run_available_now(
        sessions.sessionize_stateful(stream, gap_minutes=60),
        "ccspark_test_sessions",
        output_mode="update",
    ).collect()

    def key(rows):
        return sorted(
            (r["user_id"], r["session_id"], r["n_events"], r["sum_value"])
            for r in rows
        )

    assert key(streamed) == key(batch)


def test_streaming_asof_matches_batch(spark, sf_smoke):
    """The stateful streaming as-of join must emit exactly what the
    batch merge-union window as-of produces."""
    from commoncrawl_crawler_spark.operators import joins

    batch = joins.asof_join_events(load_table(spark, "events", sf_smoke)).collect()
    streamed = jobs.run_available_now(
        jobs.streaming_asof_join(jobs.read_events_stream(spark, sf_smoke)),
        "ccspark_test_asof",
        output_mode="update",
    ).collect()

    def key(rows):
        return sorted(
            (r["event_id"], r["user_id"], r["asof_event_id"], r["asof_value"])
            for r in rows
        )

    assert key(streamed) == key(batch)


def test_streaming_asof_state_carries_across_batches(spark, tmp_path):
    """A reference event in batch 1 must join probes in batch 2 via
    the state store (one file per micro-batch forces two batches)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    b1 = pd.DataFrame(
        {
            "event_id": [1],
            "ts": [base],
            "user_id": [7],
            "event_type": ["signup"],
            "value": [42.0],
            "props": ["{}"],
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [2, 3],
            "ts": [base + pd.Timedelta(hours=1), base + pd.Timedelta(hours=2)],
            "user_id": [7, 7],
            "event_type": ["click", "click"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "events_stream"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pandas(b1), src / "f1.parquet", coerce_timestamps="us"
    )
    pq.write_table(
        pa.Table.from_pandas(b2), src / "f2.parquet", coerce_timestamps="us"
    )
    _space_mtimes(src / "f1.parquet", src / "f2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = jobs.run_available_now(
        jobs.streaming_asof_join(stream),
        "ccspark_test_asof_2b",
        output_mode="update",
    ).collect()
    got = {r["event_id"]: r["asof_event_id"] for r in out}
    assert got == {2: 1, 3: 1}  # batch-2 probes see the batch-1 signup


def test_streaming_asof_out_of_order_probe_gets_null(spark, tmp_path):
    """A probe older than the stored reference must emit null, never
    join the future reference (single-pass state contract)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 12:00:00")
    b1 = pd.DataFrame(
        {
            "event_id": [10],
            "ts": [base],
            "user_id": [7],
            "event_type": ["signup"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    b2 = pd.DataFrame(  # probe BEFORE the stored signup's event time
        {
            "event_id": [11],
            "ts": [base - pd.Timedelta(hours=1)],
            "user_id": [7],
            "event_type": ["click"],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    src = tmp_path / "ooo_stream"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(b1), src / "f1.parquet", coerce_timestamps="us")
    pq.write_table(pa.Table.from_pandas(b2), src / "f2.parquet", coerce_timestamps="us")
    _space_mtimes(src / "f1.parquet", src / "f2.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = jobs.run_available_now(
        jobs.streaming_asof_join(stream),
        "ccspark_test_asof_ooo",
        output_mode="update",
    ).collect()
    rows = {r["event_id"]: r["asof_event_id"] for r in out}
    assert rows == {11: None}


def _two_batch_stream(spark, tmp_path, name, b1, b2):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / name
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(b1), src / "f1.parquet", coerce_timestamps="us")
    pq.write_table(pa.Table.from_pandas(b2), src / "f2.parquet", coerce_timestamps="us")
    _space_mtimes(src / "f1.parquet", src / "f2.parquet")
    schema = spark.read.parquet(str(src)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_streaming_asof_late_ref_does_not_shadow_newer_state(spark, tmp_path):
    """A late-arriving older reference must not capture probes that the
    stored (newer) reference should win -- the virtual state row
    participates in the same sort as in-batch rows."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 12:00:00")
    mk = lambda ids, tss, types, vals: pd.DataFrame(
        {
            "event_id": ids,
            "ts": tss,
            "user_id": [7] * len(ids),
            "event_type": types,
            "value": vals,
            "props": ["{}"] * len(ids),
        }
    )
    b1 = mk([5], [base], ["signup"], [5.0])  # newest ref -> state
    b2 = mk(  # late ref (older ts) + probe after both
        [3, 9],
        [base - pd.Timedelta(hours=1), base + pd.Timedelta(hours=1)],
        ["signup", "click"],
        [3.0, 0.0],
    )
    out = jobs.run_available_now(
        jobs.streaming_asof_join(
            _two_batch_stream(spark, tmp_path, "late_ref", b1, b2)
        ),
        "ccspark_test_asof_late",
        output_mode="update",
    ).collect()
    got = {r["event_id"]: r["asof_event_id"] for r in out}
    assert got == {9: 5}  # stored id=5 at 12:00 wins over late id=3 at 11:00


def test_streaming_asof_equal_ts_tiebreak_across_batches(spark, tmp_path):
    """Equal-ts references split across micro-batches keep the max
    event_id, matching the batch gate's dedupe."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 12:00:00")
    mk = lambda ids, tss, types, vals: pd.DataFrame(
        {
            "event_id": ids,
            "ts": tss,
            "user_id": [7] * len(ids),
            "event_type": types,
            "value": vals,
            "props": ["{}"] * len(ids),
        }
    )
    b1 = mk([5], [base], ["signup"], [5.0])
    b2 = mk(  # same-ts ref with LOWER id, then a probe
        [3, 9], [base, base + pd.Timedelta(hours=1)], ["signup", "click"], [3.0, 0.0]
    )
    out = jobs.run_available_now(
        jobs.streaming_asof_join(
            _two_batch_stream(spark, tmp_path, "tie_ref", b1, b2)
        ),
        "ccspark_test_asof_tie",
        output_mode="update",
    ).collect()
    got = {r["event_id"]: r["asof_event_id"] for r in out}
    assert got == {9: 5}  # max event_id wins the equal-ts tie


def test_stream_static_enrich_matches_batch_and_broadcasts(spark, sf_smoke):
    """The stream-static join drained via availableNow must equal the
    batch join + rollup exactly, and the static dimension must enter
    the plan as a broadcast (the stream side never shuffles on the
    join key)."""
    from pyspark.sql import functions as F
    from commoncrawl_crawler_spark.functions import numeric

    dim = load_table(spark, "customer", sf_smoke).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = jobs.stream_static_enrich(
        jobs.read_events_stream(spark, sf_smoke), dim, on="user_id"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("events"),
        numeric.dsum("value").alias("total_value"),
    )
    streamed = jobs.run_available_now(
        agg, "ccspark_test_enrich", output_mode="complete"
    ).collect()

    batch = (
        load_table(spark, "events", sf_smoke)
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("events"),
            numeric.dsum("value").alias("total_value"),
        )
        .collect()
    )

    def key(rows):
        return sorted(
            (r["segment"], r["events"], r["total_value"]) for r in rows
        )

    assert key(streamed) == key(batch)
    # a pre-start streaming frame has no executedPlan; the same
    # builder over the batch table exercises the identical join shape
    batch_shape = jobs.stream_static_enrich(
        load_table(spark, "events", sf_smoke), dim, on="user_id"
    )
    plan = batch_shape._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _write_event_files(tmp_path, batches):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import os
    import time

    src = tmp_path / "events_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        f = src / f"f{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(df), f, coerce_timestamps="us"
        )
        # the file source orders batches by modification time: space
        # the stamps so quick successive writes cannot scramble order
        os.utime(f, (time.time() + i * 10, time.time() + i * 10))
    return src


def test_stream_stream_attribution_matches_batch(spark, sf_smoke):
    """availableNow drain of the watermarked stream-stream join must
    equal the batch range join (single-file source: no eviction)."""
    from pyspark.sql import functions as F

    streamed = jobs.run_available_now(
        jobs.stream_stream_attribution(
            jobs.read_events_stream(spark, sf_smoke), window_minutes=720
        ),
        "ccspark_test_ssattr",
        output_mode="append",
    ).collect()
    e = load_table(spark, "events", sf_smoke)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 720 MINUTES")),
        )
        .select("click_id", "purchase_id")
        .collect()
    )
    assert sorted((r["click_id"], r["purchase_id"]) for r in streamed) == sorted(
        (r["click_id"], r["purchase_id"]) for r in batch
    )


def test_stream_stream_join_state_spans_batches(spark, tmp_path):
    """A click in batch 1 joins a purchase arriving in batch 2 (both
    sides keep state); a purchase later than the watermark allows is
    dropped from the result."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    b1 = [
        (1, base, 7, "click", 0.0, "{}"),
    ]
    b2 = [
        (2, base + pd.Timedelta(minutes=10), 7, "purchase", 1.0, "{}"),
        # advance the watermark far past the click...
        (3, base + pd.Timedelta(days=30), 8, "click", 0.0, "{}"),
    ]
    # the global watermark is the MIN across both legs' watermarks and
    # lags one batch, so TWO spacer batches must advance the purchase
    # leg past the click before eviction is visible
    b3 = [
        (5, base + pd.Timedelta(days=30, hours=1), 8, "purchase", 1.0, "{}"),
    ]
    b4 = [
        (6, base + pd.Timedelta(days=30, hours=2), 9, "purchase", 1.0, "{}"),
    ]
    b5 = [
        # in-window for click 1 by event time, but 30 days late by
        # arrival -- beyond the lateness SLA, state already evicted
        (4, base + pd.Timedelta(minutes=20), 7, "purchase", 1.0, "{}"),
    ]
    src = _write_event_files(tmp_path, [b1, b2, b3, b4, b5])
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = jobs.run_available_now(
        jobs.stream_stream_attribution(
            stream, window_minutes=30, watermark="1 hour"
        ),
        "ccspark_test_ssattr_2b",
        output_mode="append",
    ).collect()
    pairs = sorted((r["click_id"], r["purchase_id"]) for r in out)
    assert (1, 2) in pairs  # cross-batch state join
    assert (1, 4) not in pairs  # evicted by the watermark


def test_keyword_snippets_window_clipping(spark):
    """Snippet edges: match at position 1 clips left; the window
    always spans match start - width .. match end + width inside the
    document; non-matching docs are absent."""
    df = spark.createDataFrame(
        [
            (1, "needle at the very start of this document body"),
            (2, "x" * 40 + " needle " + "y" * 40),
            (3, "no match here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in query_api.keyword_snippets(df, "needle", width=10).collect()
    }
    assert 3 not in out
    assert out[1]["pos"] == 1
    assert out[1]["snippet"] == "needle at the ve"  # 6 + 10 chars
    r2 = out[2]
    assert r2["pos"] == 42
    # 10-char window left of the match start (9 x's + the space),
    # the 6-char term, then 10 chars right (the space + 9 y's)
    assert r2["snippet"] == "x" * 9 + " needle " + "y" * 9


def test_streaming_gates_timezone_independent(spark, sf_smoke):
    """The streaming gates must produce identical rows under a non-UTC
    session timezone -- including a half-hour+45 offset (Kathmandu)
    that catches any midnight-boundary day assignment leaking the
    session zone. Exercises windowed day rollup, stream-stream range
    join, and the stateful as-of join."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    gates = [
        "stream_windowed_stats",
        "stream_stream_attribution",
        "stream_asof",
        "stream_sessionize",
    ]

    def run_all():
        return {
            g: sorted(tuple(r) for r in qs[g](spark, sf_smoke).collect())
            for g in gates
        }

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        baseline = run_all()  # UTC (pinned by build_session)
        for tz in ("America/New_York", "Asia/Kathmandu"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = run_all()
            for g in gates:
                assert got[g] == baseline[g], (g, tz)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_streaming_distinct_sketch_matches_batch(spark, sf_smoke):
    """The drained streaming register table, finished batch-side,
    must be bit-identical to the batch sketch over the same rows --
    the bounded-state streaming distinct-count path."""
    from commoncrawl_crawler_spark.operators import aggregates

    batch = aggregates.distinct_sketch(
        load_table(spark, "events", sf_smoke),
        "event_type",
        "user_id",
        with_exact=False,
    ).collect()
    regs = jobs.run_available_now(
        jobs.streaming_register_sketch(jobs.read_events_stream(spark, sf_smoke)),
        "ccspark_test_hllregs",
    )
    streamed = aggregates._sketch_finish(regs, 40).orderBy("grp").collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_streaming_countmin_matches_batch(spark, sf_smoke):
    """The drained streaming count-min cells, probed batch-side, must
    be bit-identical to a batch sketch over the same rows -- the
    mergeable-counter property that lets per-shard sketches combine."""
    from commoncrawl_crawler_spark.operators import aggregates

    keyed = load_table(spark, "events", sf_smoke).select(
        F.col("user_id").cast("string").alias("key")
    )
    top = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "key")
        .limit(10)
    )
    batch_cells = aggregates.cms_cells(keyed, "key")
    streamed_cells = jobs.run_available_now(
        jobs.streaming_countmin_cells(jobs.read_events_stream(spark, sf_smoke)),
        "ccspark_test_cmscells",
    )
    a = (
        aggregates.cms_probe(batch_cells, top, "key")
        .orderBy(F.desc("exact_cnt"), "key")
        .collect()
    )
    b = (
        aggregates.cms_probe(streamed_cells, top, "key")
        .orderBy(F.desc("exact_cnt"), "key")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # CMS overestimates, never under
    for r in a:
        assert r["cms_estimate"] >= r["exact_cnt"]


def test_generational_upsert_two_batches_fold_and_idempotency(
    spark, tmp_path
):
    """Two micro-batches produce gen=0 and gen=1; the final state
    equals the one-shot batch aggregate (the fold is associative),
    and each generation directory is a complete snapshot."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 12:00:00")
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [base, base + pd.Timedelta(minutes=1), base],
            "value": [1.5, 2.25, 10.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "user_id": [1, 3],
            "ts": [base + pd.Timedelta(hours=2), base],
            "value": [4.0, 7.5],
        }
    )
    src = tmp_path / "ev"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pandas(b1), src / "f1.parquet", coerce_timestamps="us"
    )
    pq.write_table(
        pa.Table.from_pandas(b2), src / "f2.parquet", coerce_timestamps="us"
    )
    _space_mtimes(src / "f1.parquet", src / "f2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = jobs.streaming_generational_upsert(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["last_ts"], r["sum_value"]) for r in out}
    assert got == {
        1: (3, base + pd.Timedelta(hours=2), 7.75),
        2: (1, base, 10.0),
        3: (1, base, 7.5),
    }
    gens = sorted(
        d for d in __import__("os").listdir(tmp_path / "state")
        if d.startswith("gen=")
    )
    assert len(gens) == 2  # one generation per micro-batch
    # gen=0 is a complete snapshot of batch 1 alone
    g0 = spark.read.parquet(str(tmp_path / "state" / gens[0])).collect()
    assert {r["user_id"]: r["n_events"] for r in g0} == {1: 2, 2: 1}


def test_streaming_minhash_signatures_batch_identical_across_batches(
    spark, tmp_path
):
    """Signatures accumulated across MULTIPLE micro-batches (one file
    per trigger) must equal the batch build bit-for-bit -- the
    mergeable-min-register property stream_minhash_dedup rides."""
    from commoncrawl_crawler_spark.operators import dedup

    rows = [
        (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(30)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d1 = tmp_path / "stream_src"
    d1.mkdir()
    docs.filter("doc_id < 20").coalesce(1).write.parquet(
        str(d1 / "p1.parquet")
    )
    docs.filter("doc_id >= 20").coalesce(1).write.parquet(
        str(d1 / "p2.parquet")
    )
    import glob as _g

    _space_mtimes(*sorted(_g.glob(str(d1 / "*" / "*.parquet"))))
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d1) + "/*")
    )
    sig_stream = jobs.run_available_now(
        dedup.streaming_minhash_signatures(stream), "mh_parity_sigs"
    )
    want = {
        tuple(r)
        for r in dedup.md5_minhash_signatures(docs).collect()
    }
    got = {tuple(r) for r in sig_stream.collect()}
    assert got == want
