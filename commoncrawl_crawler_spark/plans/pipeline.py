"""Pipeline DAG driver: dependency-ordered, idempotent batch steps.

Reference (SURVEY.md section 3.2): CrawlPipelineTask
(mapred/pipelineV3/CrawlPipelineTask.java:42,331-349) runs an
ordered list of CrawlPipelineSteps; a step executes only if its
output directory (keyed by database timestamp) does not already
exist (CrawlPipelineStep.java:133-136,185-217) -- restart-safe
incremental pipelines.

Spark-first: a step is a function (spark, inputs) -> DataFrame whose
output is written as parquet under <workdir>/<step>; the _SUCCESS
marker is the completion check (atomic-commit, so a crashed step
re-runs). Catalyst plans each step; the driver is plain topological
ordering -- no scheduler machinery needed because Spark handles all
intra-step parallelism.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _success_exists(path: str, spark: SparkSession | None = None) -> bool:
    """Scheme-aware _SUCCESS check: resolved through the Hadoop
    FileSystem API when a session is available, so completion
    skipping works on ANY Spark-writable workdir (s3a/abfss/hdfs/
    file), the same fix as QueryServer.cached_results_available --
    os.path.exists answers False off the local filesystem and every
    step would silently rebuild. Bare local use (no active session)
    falls back to the OS check."""
    marker = f"{path.rstrip('/')}/_SUCCESS"
    s = spark or SparkSession.getActiveSession()
    if s is None:
        return os.path.exists(marker)
    p = s._jvm.org.apache.hadoop.fs.Path(marker)
    return bool(
        p.getFileSystem(s._jsc.hadoopConfiguration()).exists(p)
    )


@dataclass
class PipelineStep:
    """One named step; `build` receives the outputs of its deps as
    DataFrames keyed by step name."""

    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()


@dataclass
class PipelineTask:
    """Dependency-ordered step runner with output-exists skipping."""

    workdir: str
    steps: list[PipelineStep] = field(default_factory=list)

    def add(self, step: PipelineStep) -> "PipelineTask":
        self.steps.append(step)
        return self

    def _out(self, name: str) -> str:
        # URI-style join: workdir may be an object-store prefix
        return f"{self.workdir.rstrip('/')}/{name}"

    def is_complete(
        self, name: str, spark: SparkSession | None = None
    ) -> bool:
        return _success_exists(self._out(name), spark)

    def _toposort(self) -> list[PipelineStep]:
        by_name = {s.name: s for s in self.steps}
        seen: dict[str, int] = {}  # 0=visiting, 1=done
        order: list[PipelineStep] = []

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"dependency cycle through step {name!r}")
            seen[name] = 0
            for d in by_name[name].deps:
                if d not in by_name:
                    raise ValueError(f"step {name!r} depends on unknown {d!r}")
                visit(d)
            seen[name] = 1
            order.append(by_name[name])

        for s in self.steps:
            visit(s.name)
        return order

    def run_step(self, spark: SparkSession, name: str) -> DataFrame:
        """Run (or skip) a single step and its dependency closure --
        steps OUTSIDE the closure are untouched (no side effects for
        unrelated incomplete steps)."""
        by_name = {s.name: s for s in self.steps}
        if name not in by_name:
            raise ValueError(f"unknown step {name!r}")
        closure: set[str] = set()

        def visit(n: str) -> None:
            if n in closure:
                return
            closure.add(n)
            for d in by_name[n].deps:
                visit(d)

        visit(name)
        sub = PipelineTask(
            self.workdir, [s for s in self.steps if s.name in closure]
        )
        outputs = sub.run(spark)
        self.last_executed = sub.last_executed
        return outputs[name]

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Run incomplete steps in dependency order; return all step
        outputs (read back from parquet, so lineage is truncated at
        step boundaries exactly like the reference's HDFS handoffs).
        Returns the executed step names in `self.last_executed`.

        A step written in this run is read back with the schema of the
        DataFrame that wrote it, which is what parquet schema inference
        would return (all fields nullable), so the read-back runs no
        inference job. A skipped step's schema is inferred."""
        outputs: dict[str, DataFrame] = {}
        executed: list[str] = []
        for step in self._toposort():
            path = self._out(step.name)
            reader = spark.read
            if not self.is_complete(step.name, spark):
                dep_outputs = {d: outputs[d] for d in step.deps}
                df = step.build(spark, dep_outputs)
                df.write.mode("overwrite").parquet(path)
                executed.append(step.name)
                reader = reader.schema(df.schema)
            outputs[step.name] = reader.parquet(path)
        self.last_executed = executed
        return outputs


@dataclass
class ArtifactStore:
    """Cross-session parquet cache for shared derived tables.

    The 100 TB variant of a per-session `localCheckpoint` cache:
    expensive shared stages (link-graph edge tables, shingle/sketch
    tables, cluster labels) are committed once as parquet artifacts
    under <workdir>/<name> and every later consumer -- including a
    NEW SparkSession, days later -- reads them back instead of
    rebuilding, exactly how the reference points downstream jobs at a
    prior step's HDFS output keyed by database timestamp
    (CrawlPipelineStep.java:133-136,185-217).

    Completion/atomicity reuse the pipeline-step contract (_SUCCESS
    marker written by Spark's committer; a crashed build leaves no
    marker and re-runs). Reads are plain parquet scans, so consumers
    get pushdown/pruning against the artifact for free -- unlike a
    session cache, which pins the whole table.
    """

    workdir: str

    def path(self, name: str) -> str:
        return f"{self.workdir.rstrip('/')}/{name}"

    def is_complete(
        self, name: str, spark: SparkSession | None = None
    ) -> bool:
        return _success_exists(self.path(name), spark)

    def get_or_build(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """Return the artifact, building + committing it only when
        absent. `self.last_built` records whether this call built."""
        task = PipelineTask(self.workdir).add(
            PipelineStep(name, lambda s, deps: build())
        )
        out = task.run(spark)[name]
        self.last_built = bool(task.last_executed)
        return out
