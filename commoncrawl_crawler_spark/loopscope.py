"""Loop-state shuffle sizing derived from DATA, not core count.

Round-9 driver evidence (VERDICT.md, scaling block): the BSP loop
gates ran FASTER at 8 cores than at 32 because every per-iteration
checkpoint job paid `shuffle.partitions x task-overhead` (and AQE's
per-stage re-optimization latency) for loop state of ~10^5 rows --
`spark.sql.shuffle.partitions` is sized for the session's data plane,
not for tiny iterative state. Round-10 decomposition on the converged
PageRank loop (sf0.1, 32 cores, interleaved in-process A/B): warm
per-batch checkpoint jobs are ~0.95 s at AQE-on/32 partitions, ~0.78 s
at AQE-off/8, ~0.63 s at AQE-off/4 -- the cost is per-stage scheduling
and adaptive re-planning latency, nearly independent of task count
below ~8 partitions (guide 2.1/2.4: the fix is fewer/cheaper stages,
not a constant tuned to local core count).

`small_state_scope` therefore scopes TWO settings around a loop's
construction (lazy `localCheckpoint` compiles its physical plan -- and
captures the session conf -- at definition time, so the scope binds
eager AND lazy loops):

- `spark.sql.shuffle.partitions`: shrunk to ceil(rows /
  SPARK_GRAFT_LOOP_ROWS_PER_PART) -- SHRINK-ONLY, never above the
  session default, so a cluster session sized for 100 TB keeps its
  partitioning whenever the state is actually large.
- `spark.sql.adaptive.enabled`: off only when the loop state is below
  SPARK_GRAFT_LOOP_SMALL_ROWS rows. In that regime AQE's runtime
  re-optimization can only re-discover what the row count already
  proves (everything is one small partition's worth of data) while
  charging per-stage latency for it; above the threshold AQE stays on
  and keeps its skew-join splitting and coalescing.

The row count comes from `known_rows(df)`, an exact count stamped on
the DataFrame by whoever observed it:

- `__spark_entry__._cached` observes it with an `Observation` on the
  checkpoint materialization job that runs anyway (zero extra jobs);
- `webgraph.ranks` counts its host-edge input once -- the count the
  rank ordinal's bucket ranker needed anyway -- and stamps it before
  calling `graph.pagerank`;
- operators that project a stamped table re-stamp the count through
  the projection (`dedup`, `webgraph.ranks`).

Nothing reads parquet footers: tables read back from the artifact
store (`plans.pipeline.ArtifactStore`, the SPARK_GRAFT_ARTIFACT_DIR
branch of `_cached`) and pipeline step outputs carry no count, so
loops over them run unscoped unless the caller counts. An unknown count
means NO scoping -- session defaults, the safe cluster posture (degrade
to full scale-out, never below).

The session conf is global, so `small_state_scope` holds a module lock
while it is open: two threads' scopes never interleave their
save/restore, and the session's own values come back when the
outermost scope closes. Other threads' queries still see the scoped
values while a scope is open.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_ROWS_ATTR = "_ccs_known_rows"
# re-entrant: a scoped loop may build another scoped loop inside it
_SCOPE_LOCK = threading.RLock()


def stamp_rows(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Attach an exact row count to a DataFrame (driver-side Python
    attribute only; survives nothing but direct references)."""
    if n_rows is not None:
        setattr(df, _ROWS_ATTR, int(n_rows))
    return df


def known_rows(df: DataFrame) -> int | None:
    """An exact row count previously stamped on `df`, or None."""
    n = getattr(df, _ROWS_ATTR, None)
    return int(n) if n is not None else None


def _env_int(name: str, default: int) -> int:
    try:
        return int(os.environ.get(name, default))
    except ValueError:
        return default


def _as_int(value: str | None) -> int | None:
    # session values such as "auto" are not a partition count
    try:
        return int(value)
    except (TypeError, ValueError):
        return None


def partitions_for_rows(n_rows: int) -> int:
    """ceil(n_rows / SPARK_GRAFT_LOOP_ROWS_PER_PART), at least 1: the
    number of partitions (or ranker buckets) `n_rows` rows need."""
    rows_per_part = max(1, _env_int("SPARK_GRAFT_LOOP_ROWS_PER_PART", 200_000))
    return max(1, -(-int(n_rows) // rows_per_part))


@contextmanager
def small_state_scope(spark, n_rows: int | None):
    """Scope loop shuffles to `n_rows` of state (see module docstring).

    No-op when `n_rows` is None (unknown size: keep cluster defaults)
    or when the state is too large for either adjustment. A session
    partition count that is not an integer (e.g. "auto") is left as
    it is.
    """
    if n_rows is None or os.environ.get("SPARK_GRAFT_LOOP_SCOPE") == "off":
        # unknown size, or the A/B escape hatch: keep session defaults
        yield
        return
    conf = spark.conf
    small_rows = _env_int("SPARK_GRAFT_LOOP_SMALL_ROWS", 4_000_000)
    target = partitions_for_rows(n_rows)
    with _SCOPE_LOCK:
        prev_parts = conf.get("spark.sql.shuffle.partitions")
        prev_aqe = conf.get("spark.sql.adaptive.enabled")
        try:
            session_parts = _as_int(prev_parts)
            if session_parts is not None and target < session_parts:
                conf.set("spark.sql.shuffle.partitions", str(target))
            if int(n_rows) < small_rows:
                conf.set("spark.sql.adaptive.enabled", "false")
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev_parts)
            conf.set("spark.sql.adaptive.enabled", prev_aqe)
