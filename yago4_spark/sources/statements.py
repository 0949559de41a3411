"""The statements table — Spark analog of the reference's
predicate-indexed RocksDB store (src/partitioned_statements.rs).

The reference keys RocksDB by (predicate, subject, object) so every scan
of one predicate is a prefix seek (:16-21,39-78). Here the table is
identity-partitioned by ``predicate_key``; a ``WHERE predicate_key = ...``
filter becomes partition pruning at the Parquet/Iceberg scan — the
distributed equivalent of the prefix seek, and it composes with column
pruning (scans that only need subject+object never read the other term
columns).

Scan API parity:
- subjects_objects_for_predicate  (:39-48)  → ``scan``
- objects_for_subject_predicate   (:50-61)  → ``scan`` + join by caller
- object_for_subject_predicate    (:63-70)  → ``scan`` +
  ``relational.first_value`` by caller (min by canonical term order —
  deterministic where the reference inherits RocksDB byte order;
  documented divergence SURVEY §7.4.2)
- contains                        (:72-78)  → left-semi join by caller

The facts pipeline's multi-predicate statement scans
(get_triples_from_wikidata_property_relation, src/plan.rs:1441-1466)
go through ``stmt_scan``, on a plain and a bucketed store alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import terms


class StatementsTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._df: DataFrame | None = None

    @staticmethod
    def write(df: DataFrame, path: str) -> None:
        """Bulk-load statements partitioned by predicate_key — the analog
        of the reference's batched WAL-less load + full compaction
        (src/partitioned_statements.rs:96-127)."""
        if "predicate_key" not in df.columns:
            df = df.withColumn(
                "predicate_key", terms.predicate_key_col(F.col("predicate"))
            )
        df.write.mode("overwrite").partitionBy("predicate_key").parquet(path)

    @staticmethod
    def stmt_key_col() -> F.Column:
        """The statement-node identity of a row: entity→statement rows
        (p:P…) carry the statement node as OBJECT; statement→value rows
        (ps:/psv:/pq:/pqv:/rdf:type on statement nodes) carry it as
        SUBJECT. Bucketing on this single column co-locates each
        statement's whole group, so every statement-identity join in the
        facts pipeline becomes a storage-partitioned (shuffle-free)
        join."""
        return F.when(
            F.col("predicate_key").startswith("p:P"), F.col("object.text")
        ).otherwise(F.col("subject.text"))

    @staticmethod
    def write_bucketed(df: DataFrame, table: str, n_buckets: int = 32) -> None:
        """Bulk-load into a bucketed table: partitioned by predicate_key
        (prefix-seek scans), bucketed+sorted by ``stmt_key`` (statement
        identity — see :meth:`stmt_key_col`). At 100 TB the facts
        pipeline's subject↔statement↔value joins shuffle the full
        statement stream on stmt_key; pre-bucketing pays that shuffle
        once at load. The Iceberg equivalent is
        ``bucket(n, stmt_key)`` as a partition transform."""
        if "predicate_key" not in df.columns:
            df = df.withColumn(
                "predicate_key", terms.predicate_key_col(F.col("predicate"))
            )
        (df.withColumn("stmt_key", StatementsTable.stmt_key_col())
           .write.mode("overwrite")
           .partitionBy("predicate_key")
           .bucketBy(n_buckets, "stmt_key")
           .sortBy("stmt_key")
           .format("parquet")
           .saveAsTable(table))

    @classmethod
    def from_table(cls, spark: SparkSession, table: str) -> "StatementsTable":
        st = cls(spark, path="")
        st._df = spark.table(table)
        return st

    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self.spark.read.parquet(self.path)
        return self._df

    def scan(self, predicate_key: str) -> DataFrame:
        """All (subject, object) pairs of one predicate — partition-pruned."""
        return (
            self.df()
            .where(F.col("predicate_key") == predicate_key)
            .select("subject", "object")
        )

    def stmt_scan(self, predicate_keys: list[str]) -> DataFrame:
        """(predicate_key, stmt_key, subject, object) — the facts
        pipeline's scan. On a :meth:`write_bucketed` store the stored
        ``stmt_key`` IS the bucket column, so downstream joins on it
        (subject↔object assembly, best-rank semi, annotations) reuse the
        storage partitioning instead of shuffling the statement stream
        every run; on a plain store the column is computed on the fly
        (same values, shuffle paid per join)."""
        df = self.df().where(F.col("predicate_key").isin(predicate_keys))
        if "stmt_key" not in df.columns:
            df = df.withColumn("stmt_key", self.stmt_key_col())
        return df.select("predicate_key", "stmt_key", "subject", "object")

    def scan_many(self, predicate_keys: list[str]) -> DataFrame:
        return (
            self.df()
            .where(F.col("predicate_key").isin(predicate_keys))
            .select("predicate_key", "subject", "object")
        )
