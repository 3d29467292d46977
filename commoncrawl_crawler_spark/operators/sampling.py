"""Deterministic corpus sampling operators (training-data tier).

A 100 TB corpus pipeline downsamples constantly -- uniform rate
sampling for evaluation splits, and per-group quotas so a handful of
mega-domains don't dominate the training mix (the reference bounds
per-domain work the same way: BundleGenerator caps urls-per-host,
crawllistgen/PartitionUtils.java:60-85 splits super-domains).

Everything here is hash-threshold based, NOT `df.sample()`:

- Deterministic: the same row always lands in the same split, on any
  cluster size, any partitioning, any Spark version -- md5 is the
  engine-neutral hash (same value in DuckDB/Trino/Snowflake), so the
  sample is reproducible outside Spark too.
- Map-only: uniform sampling applies a per-row predicate -- no
  shuffle, fully pushed into the scan stage.
- Per-group quotas are one shuffle (window by group) -- same cost
  shape as the reference's per-host top-k (BundleGenerator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.column import Column


def _md5_bucket(key: Column, buckets: int = 1000) -> Column:
    """Engine-neutral uniform bucket in [0, buckets): first 60 bits
    of md5(key) mod buckets. Matches DuckDB
    ``CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % buckets``."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(buckets))


def hash_sample(
    df: DataFrame, key_col: str, rate_per_mille: int, buckets: int = 1000
) -> DataFrame:
    """Keep rows whose md5 bucket of `key_col` < rate_per_mille.

    Map-only deterministic sampling: the filter rides the scan stage
    (no shuffle, no RNG state), and the kept set is stable across
    reruns and engines -- the property an eval/train split needs.
    """
    return df.filter(_md5_bucket(F.col(key_col), buckets) < rate_per_mille)


def mixture_plan(
    documents: DataFrame,
    weights: DataFrame,
    token_budget: int,
) -> DataFrame:
    """Training-mix planner: per source, the token inventory and the
    deterministic sampling rate that hits a target token budget split
    by mixture weights (the DoReMi / Chinchilla-style source-weighting
    step every pretraining data pipeline runs before sampling).

    weights: (source, weight). target_tokens = floor(budget * w / sum(w));
    sampling_rate = min(1, target/available) -- a source smaller than
    its allocation contributes everything it has (expected = min of
    the two), and the surplus is visible as rate 1.0 rows. The join is
    FULL outer: a weighted source with no documents still emits a
    docs=0 / expected_tokens=0 row, so a budget shortfall (its weight
    still sits in the normalizer) is visible in the plan instead of
    silently vanishing. One groupBy(source) over the corpus plus a
    tiny weight join; token counts are exact bigints, so the plan is
    reproducible on any partitioning. Feed the rates to hash_sample
    for the actual map-only draw.
    """
    from ..functions.text import token_count_expr

    avail = documents.groupBy("source").agg(
        F.sum(token_count_expr(F.col("text")).cast("long")).alias(
            "available_tokens"
        ),
        F.count(F.lit(1)).alias("docs"),
    )
    wtot = weights.agg(F.sum("weight").alias("_wt"))
    j = (
        avail.join(weights, "source", "full")
        .crossJoin(F.broadcast(wtot))
        .select(
            "source",
            F.coalesce("docs", F.lit(0)).alias("docs"),
            F.coalesce("available_tokens", F.lit(0)).alias(
                "available_tokens"
            ),
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
            "_wt",
        )
    )
    target = F.floor(
        F.lit(float(token_budget)) * F.col("weight") / F.col("_wt")
    ).cast("long")
    return (
        j.withColumn("target_tokens", target)
        .select(
            "source",
            "docs",
            "available_tokens",
            F.round("weight", 6).alias("weight"),
            "target_tokens",
            # an empty source samples at 0.0, not 1.0: the shortfall
            # row exists to be visible to rate consumers/alerting
            F.round(
                F.when(F.col("available_tokens") == 0, F.lit(0.0)).otherwise(
                    F.least(
                        F.lit(1.0),
                        F.col("target_tokens")
                        / F.greatest(F.col("available_tokens"), F.lit(1)),
                    )
                ),
                6,
            ).alias("sampling_rate"),
            F.least(F.col("target_tokens"), F.col("available_tokens")).alias(
                "expected_tokens"
            ),
        )
        .orderBy("source")
    )


def weighted_quota_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    quota: int,
) -> DataFrame:
    """At most `quota` rows per group, weighted WITHOUT replacement:
    inclusion probability scales with `weight_col` (Efraimidis-
    Spirakis A-ES: keep the k smallest -ln(u)/w). The quality-weighted
    corpus subsample every training pipeline draws -- long/high-score
    documents are favored, but every positive-weight row has a chance.

    Deterministic and engine-exact: u derives from md5(key) (no RNG
    state, stable across reruns/partitionings/engines) and the
    priority is quantized to integer MICRO-UNITS (floor(x*1e6+0.5))
    BEFORE the per-group ranking so a last-ulp ln() difference in
    another engine cannot reorder the selection -- round(double, 6)
    is NOT engine-stable near half boundaries (see the bm25/tfidf
    float-parity notes); ties break on the key. Rows with weight <= 0
    or null are never sampled (zero weight = zero probability).

    One shuffle on the group key, top-k via the rank window -- the
    same shape as the reference's per-host top-k. Adds `_priority`
    (the micro-unit cost, bigint) to the output for auditability.
    """
    m = 1 << 30
    u = (_md5_bucket(F.col(key_col), m) + 1) / F.lit(float(m + 1))
    cost = F.floor((-F.log(u) / F.col(weight_col)) * 1e6 + F.lit(0.5)).cast(
        "long"
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_priority"), F.col(key_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_priority", cost)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def training_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "epoch0",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    (shard, pos) address in a pseudorandom permutation keyed by
    md5(seed:key) -- the "shuffle the corpus before training, and
    make epoch N reproducible on any cluster" operation every
    large-scale training pipeline needs between curation and
    tokenization.

    Scale shape: shard = md5 mod n_shards spreads rows uniformly
    (thousands of shards at 100 TB = thousands of output files), and
    `pos` is a row_number window partitioned BY SHARD -- the windows
    run in parallel, one sort per shard, never a global single-task
    sort. A different `seed` yields an independent permutation
    (epoch reshuffling without re-reading state). Matches DuckDB
    exactly: md5 is md5, the bucket is the same 15-hex-digit
    prefix arithmetic as the sampling tier above.

    The output columns (shuffle_key, shard, pos) must not already
    exist on the input: withColumn would silently overwrite them and
    the window could resolve against the wrong data, so collisions
    raise instead.
    """
    clash = {"shuffle_key", "shard", "pos"} & set(df.columns)
    if clash:
        raise ValueError(
            "training_shuffle output columns already present on the "
            f"input DataFrame: {sorted(clash)} -- rename or drop them "
            "before shuffling"
        )
    key = F.md5(
        F.concat(
            F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
        )
    )
    shard = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint")
        % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", key_col)
    return (
        df.withColumn("shuffle_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
    )


def temperature_mixture(
    documents: DataFrame, budget_docs: int = 10000
) -> DataFrame:
    """Temperature-flattened language mixture (the multilingual-LM
    sampling standard: p_l proportional to n_l^alpha; XLM-R, mT5): a
    raw-frequency mixture starves tail languages, a uniform one
    over-trains them -- alpha between 0 and 1 interpolates. This
    implementation pins alpha = 0.5 because sqrt is the ONE power
    IEEE 754 requires correctly rounded, so the weight computation is
    bit-identical across engines (an arbitrary pow() is libm-ulp
    territory -- the engine-parity rule that keeps oracle hashes
    stable); other alphas belong behind a documented approximate
    variant.

    Weights quantize once (floor(sqrt(n)*1e6+0.5)) and everything
    after is exact integer arithmetic: share_ppm = w*1e6 DIV sum(w),
    planned_docs = budget*w DIV sum(w). One groupBy over the corpus,
    a 1-row total broadcast -- the mixture_plan shape.
    """
    counts = documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = F.floor(F.sqrt(F.col("n_docs")) * 1e6 + F.lit(0.5)).cast("long")
    weighted = counts.withColumn("_w", w)
    total = weighted.agg(F.sum("_w").alias("_tw"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            F.expr("CAST(_w * 1000000 DIV _tw AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(f"CAST({budget_docs} * _w DIV _tw AS BIGINT)").alias(
                "planned_docs"
            ),
        )
        .orderBy("lang")
    )
