"""Physical-layout planning: Z-order clustering and file compaction.

Training-data-pipeline tier. The reference hand-manages layout
everywhere -- sharded sequence files sorted by packed CrawlDBKey
(mergeutils, SURVEY.md section 1.3/1.5) so that range scans touch few
shards, and multi-file merges that re-pack small per-job outputs
(MultiFileMergeInputFormat). On a 100 TB lake those two jobs become:

* **Z-order (Morton) clustering** -- interleave the bits of several
  scan dimensions into one sort key so that a range predicate on ANY
  of the dimensions touches a small, contiguous set of files (the
  data-skipping layout Delta/Iceberg OPTIMIZE ZORDER applies; Morton
  1966). Implemented as a pure Column bit-interleave (stays in
  whole-stage codegen; no UDF); the output's file-bucket column is
  what a clustered writer partitions by, so downstream parquet
  min/max stats per file become selective.

* **Compaction planning** -- the small-files problem. Given a file
  listing, assign files to target-size bins with a per-table-
  partition running sum (window cumsum // target): deterministic,
  one shuffle on the table-partition key, no global window, and the
  bin boundaries are reproducible from the listing alone so a
  planner re-run is idempotent.

At 100 TB: the z-key computation is embarrassingly parallel. The
compaction window partitions by table-partition prefix -- file counts
per partition are bounded by the writer's own rotation policy, never
corpus-sized.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton interleave of ``len(cols)`` non-negative integer
    Columns, ``bits`` low bits each -> one bigint sort key.

    Bit i of column j lands at position ``i * k + j`` (k = number of
    dimensions), so a prefix of the z-key constrains every dimension
    simultaneously -- the property that makes per-file min/max stats
    selective for predicates on any single dimension.

    Pure Column expression (shift/and/or), evaluated entirely inside
    whole-stage codegen; 2^(bits*k) must fit a signed 64-bit int.
    """
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} dims x {bits} bits overflows a bigint")
    parts = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
            i * k + j,
        )
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return reduce(Column.bitwiseOR, parts)


def zorder_events(events: DataFrame, bits: int = 16) -> DataFrame:
    """Z-order the events table on (user_id, spread event key) and
    assign each row its target file bucket (top 8 z-key bits -> 256
    files). The bucket column is what a clustered writer partitions
    by; the gate checks the interleave arithmetic end to end. The
    second dimension is multiplied by a 16-bit odd constant so the
    fixture exercises every bit position of the interleave."""
    x = F.pmod(F.col("user_id"), F.lit(1 << bits))
    y = F.pmod(F.col("event_id") * 40503, F.lit(1 << bits))
    z = zorder_key([x, y], bits)
    return events.select(
        "event_id",
        x.cast("long").alias("dim_x"),
        y.cast("long").alias("dim_y"),
        z.alias("zkey"),
        F.shiftright(z, 2 * bits - 8).cast("int").alias("file_bucket"),
    ).orderBy("event_id")


def compaction_plan(
    listing: DataFrame, target_bytes: int = 32768
) -> DataFrame:
    """Assign files to compaction bins: within each table partition
    (``prefix``), files in path order share a bin while their
    exclusive prefix sum stays inside the same ``target_bytes``-wide
    stripe -- bin = exclusive-prefix-sum(size) // target, computable
    in one per-prefix window (no driver loop, no global window).

    This is threshold-crossing binning, NOT sequential first-fit: a
    bin's bytes can overshoot the target (the file that crosses a
    stripe boundary stays in the earlier bin), and after an overshoot
    the two plans diverge (first-fit would reset the accumulator at
    the overshooting file; the stripe rule keeps the global running
    sum).  An oversized file likewise shares its bin with any small
    files earlier in its stripe.  The stripe rule is what makes the
    plan a pure window expression -- first-fit's reset is a recurrence
    Catalyst cannot express without a per-prefix sequential pass --
    and for the compactor's purpose (bounded, deterministic merge
    tasks of ~target bytes) either contract serves.  Input columns:
    prefix, path, size_bytes.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("prefix")
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    # exact integer division (the double path is only exact for
    # power-of-two targets): strip the remainder first
    bin_col = (
        (run - F.pmod(run, F.lit(target_bytes))) / F.lit(target_bytes)
    ).cast("long")
    return listing.select(
        "prefix",
        "path",
        "size_bytes",
        bin_col.alias("bin"),
    ).orderBy("prefix", "path")


def compaction_bins(
    listing: DataFrame, target_bytes: int = 32768
) -> DataFrame:
    """Audit rollup of the plan: per (prefix, bin) file count and
    byte total -- what the compactor submits as one merge task each
    (the MultiFileMergeInputFormat unit of work,
    mergeutils/MultiFileMergeInputFormat.java semantics)."""
    return (
        compaction_plan(listing, target_bytes)
        .groupBy("prefix", "bin")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("size_bytes").cast("long").alias("bin_bytes"),
        )
        .orderBy("prefix", "bin")
    )


def documents_file_listing(documents: DataFrame) -> DataFrame:
    """Deterministic file listing derived from the documents table
    (test fixture): one file per doc, partitioned by source, sizes
    spread so bins hold a few files each."""
    return documents.select(
        F.col("source").alias("prefix"),
        F.concat(
            F.lit("part-"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ).alias("path"),
        (4096 + F.pmod(F.col("doc_id"), F.lit(13)) * 512)
        .cast("long")
        .alias("size_bytes"),
    )


def consistent_hash_assign(
    keys: DataFrame,
    n_workers: int = 8,
    vnodes: int = 16,
    key_col: str = "host",
) -> DataFrame:
    """Consistent-hash ring assignment (Karger et al. 1997): each
    worker owns `vnodes` ring positions md5('w<i>#<v>'), a key lands
    on the first position clockwise from md5(key), wrapping to the
    ring's minimum. The elastic upgrade of the reference's modulo
    host-sharding (crawler list partitioning, SURVEY section 1.5):
    adding/removing one worker moves ~1/n of keys instead of
    reshuffling everything.

    Scale shape: ONE pass -- the ring (n_workers x vnodes rows,
    broadcast) left-joins the distinct keys on the non-equi successor
    condition (a BroadcastNestedLoopJoin whose broadcast side is the
    bounded ring, the allowlisted probe-table pattern), and one
    min_by aggregate per key resolves the clockwise winner; keys past
    the last ring position wrap to the ring minimum via coalesce. No
    join-back, no corpus-side sort. md5 keeps both engines' ring
    identical (the LSH-oracle discipline).
    """
    spark = keys.sparkSession
    ring = spark.createDataFrame(
        [
            (f"w{w}", f"w{w}#{v}")
            for w in range(n_workers)
            for v in range(vnodes)
        ],
        "worker string, vnode string",
    ).select("worker", F.md5("vnode").alias("ring_pos"))
    ring_min = ring.agg(
        F.min_by("worker", "ring_pos").alias("_wrap_worker"),
    )
    k = keys.select(F.col(key_col).alias("key")).distinct().select(
        "key", F.md5("key").alias("_kh")
    )
    return (
        k.join(F.broadcast(ring), F.col("ring_pos") >= F.col("_kh"), "left")
        .groupBy("key")
        .agg(F.min_by("worker", "ring_pos").alias("_cw_worker"))
        .crossJoin(F.broadcast(ring_min))
        .select(
            F.col("key").alias(key_col),
            F.coalesce("_cw_worker", "_wrap_worker").alias("worker"),
        )
        .orderBy(key_col)
    )
