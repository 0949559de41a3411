"""Stage catalog: checkpointed stage tables with lineage + metrics, over
the pipeline's one disk-commit protocol.

:func:`commit_parquet` is that protocol, shared by :class:`StageCatalog`
and the resumable closure's frontiers (operators/closure.py): the table
is written ONCE as (optionally partitioned) Parquet, its row count
observed on that same write (``df.observe``: no re-read, no count job);
then ``_MANIFEST.json`` is written next to it. The manifest is the
commit point — a directory without one is a partial write that a rerun
overwrites. Every filesystem call goes through the Hadoop
``FileSystem`` of the path, as ``df.write`` resolves it, so local paths
and ``file://`` / ``hdfs://`` / ``s3a://`` URIs all resume. The layout is
Iceberg-shaped (snapshot + manifest); no other module touches the
filesystem, so swapping in Iceberg (``writeTo(...).partitionedBy(...)``)
is a one-module change. (Iceberg runtime jars are not in this sandbox.)

Replaces the reference's `Stats` TSV counters (src/plan.rs:2360-2409)
with a queryable metrics ledger.
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, resolved like ``df.write`` does."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def is_committed(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_path(spark, f"{path}/{MANIFEST}")
    return fs.exists(p)


def read_manifest(spark: SparkSession, path: str) -> dict:
    fs, p = _hadoop_path(spark, f"{path}/{MANIFEST}")
    stream = fs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle Exchanges in ``df``'s physical plan, each counted ONCE.
    ``executedPlan().toString()`` re-prints shared subtrees at every
    consumer, so a substring count is weighted by DAG fan-out and flips
    when AQE's exchange-reuse decisions vary with session state
    (observed: "326768 vs 226560" on a ~40-node plan). Formatted mode
    lists every operator exactly once as "(n) Exchange"."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    # keep only the FINAL adaptive plan tree (the "== Initial Plan =="
    # section re-lists pre-AQE operators); \bExchange excludes
    # Reused/BroadcastExchange (no word boundary inside those tokens)
    final_tree = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\bExchange \(\d+\)", final_tree))


def commit_parquet(df: DataFrame, path: str,
                   partition_by: list[str] | None = None,
                   **manifest) -> tuple[DataFrame, int]:
    """Write and commit ``df`` at ``path`` (module doc); the keyword
    arguments go into the manifest. Returns the committed table, read
    back lazily with ``df``'s schema (no schema-inference job), and its
    row count. A partitioned commit also records the rows per partition
    value: one aggregate over the written partition columns, since an
    observation yields a single row."""
    t0 = time.time()
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(path)
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    partitions = [] if not partition_by else [
        r.asDict() for r in out.groupBy(*partition_by)
        .agg(F.count(F.lit(1)).alias("rows")).collect()]
    manifest.update(
        rows=obs.get["rows"],
        partition_by=partition_by or [],
        partitions=partitions,
        wall_s=round(time.time() - t0, 3),
        committed_at_unix=time.time(),
    )
    fs, p = _hadoop_path(df.sparkSession, f"{path}/{MANIFEST}")
    stream = fs.create(p, True)
    try:
        stream.write(json.dumps(manifest, indent=1, default=str).encode("utf-8"))
    finally:
        stream.close()
    return out, manifest["rows"]


class StageCatalog:
    """A directory of named stage tables with resume semantics."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        """A stage is complete iff its manifest was written."""
        return is_committed(self.spark, self.path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        lineage: dict | None = None,
    ) -> DataFrame:
        """Materialize a stage table and commit its manifest: rows, rows
        per partition value, wall time, the caller's ``lineage`` dict
        naming upstream stages, and the shuffle count of the BUILD plan
        (pre-execution AQE plan) for per-stage shuffle reports."""
        return commit_parquet(df, self.path(name), partition_by, stage=name,
                              lineage=lineage or {},
                              plan_exchanges=count_exchanges(df))[0]

    def get_or_create(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        lineage: dict | None = None,
    ) -> DataFrame:
        """Resume point: skip ``build`` entirely when the stage already
        committed (reference has no resumability at all — every crash
        reruns the full build)."""
        if self.exists(name):
            return self.read(name)
        return self.write(name, build(), partition_by=partition_by, lineage=lineage)

    def metrics(self) -> list[dict]:
        """The manifest of every committed stage, by stage name."""
        fs, root = _hadoop_path(self.spark, self.root)
        names = (sorted(s.getPath().getName() for s in fs.listStatus(root))
                 if fs.exists(root) else [])
        return [read_manifest(self.spark, self.path(n))
                for n in names if self.exists(n)]
