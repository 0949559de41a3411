"""S5: the YAGO class set, class hierarchy and Wikidata→YAGO class mapping.

Reference: ``build_yago_classes_and_super_class_of``
(src/plan.rs:401-614), the 7-step algorithm documented at :384-400:

1. all P279 edges; 2. keep subclasses of mapped (fromClass) classes;
3. keep classes with >= min direct instances; 4. remove bad-class
subtrees; 5. remove subclasses of disjoint class pairs; 6. YAGO classes
additionally need an English Wikipedia article; 7. derive the class
hierarchy (each kept class attaches DIRECTLY under its mapped schema.org
ancestors — YAGO 4's taxonomy is deliberately flat below schema.org) and
the wd→yago class mapping (most-specific mapped class wins).

All closures are iterative DataFrame self-joins on long QID keys; one
walk keyed by mapped class serves steps 2 and 5. The P31 instance count
is the skew hub (Q5-scale classes) and uses the salted two-phase
aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import vocab
from ..operators.closure import (
    transitive_closure,
    transitive_closure_pair,
)
from ..operators.relational import instance_count_at_least
from ..sources.statements import StatementsTable
from .shapes import Schema


@dataclass
class Taxonomy:
    yago_classes: DataFrame          # (cls) yago/schema class IRIs
    class_mapping: DataFrame         # (qid, cls) wd class → yago class IRI
    sub_class_of: DataFrame          # (child, parent) class IRIs, reduced


def sub_class_edges(st: StatementsTable) -> DataFrame:
    """(child, parent) qid pairs from wdt:P279."""
    return (
        st.scan("wdt:P279")
        .where((F.col("subject.kind") == "item") & (F.col("object.kind") == "item"))
        .select(
            F.col("subject.num").alias("child"), F.col("object.num").alias("parent")
        )
        .distinct()
    )


def instance_edges(st: StatementsTable) -> DataFrame:
    """(instance, cls) qid pairs from wdt:P31."""
    return (
        st.scan("wdt:P31")
        .where((F.col("subject.kind") == "item") & (F.col("object.kind") == "item"))
        .select(
            F.col("subject.num").alias("instance"), F.col("object.num").alias("cls")
        )
        .distinct()
    )


def _qids_df(spark: SparkSession, qids: list[int], col: str = "node") -> DataFrame:
    return spark.createDataFrame([(int(q),) for q in qids], f"{col} long")


def most_specific_filter(mapping: DataFrame, sub_class_of: DataFrame,
                         key: str, value: str) -> DataFrame:
    """Drop (k, c) when k also maps to a DIRECT child of c in the reduced
    hierarchy — keep the most specific mapped classes
    (filter_redundant_sub_class_of applied to the class mapping,
    src/plan.rs:589-607,616-638)."""
    sco = sub_class_of.select(F.col("parent").alias("_p"),
                              F.col("child").alias("_c"))
    redundant = (
        mapping.alias("m1")
        .join(sco, F.col(f"m1.{value}") == F.col("_p"), "inner")
        .join(
            mapping.alias("m2"),
            (F.col(f"m1.{key}") == F.col(f"m2.{key}"))
            & (F.col(f"m2.{value}") == F.col("_c")),
            "inner",
        )
        .select(F.col(f"m1.{key}").alias(key), F.col(f"m1.{value}").alias(value))
        .distinct()
    )
    return mapping.join(redundant, [key, value], "left_anti")


def build_taxonomy(
    spark: SparkSession,
    st: StatementsTable,
    schema: Schema,
    uri_mapping: DataFrame,
    enwiki_mapping: DataFrame,
    closure_dir: str | None = None,
) -> Taxonomy:
    """``closure_dir`` (north rule: "a failed run resumes
    mid-taxonomy-closure"): when set, the two downward closures
    (bad-class subtree under ``bad``, the keyed mapped-class subtree
    under ``desc``) checkpoint each iteration's frontier to disk under
    it and a rerun resumes from the last committed iteration instead of
    restarting the fixpoint. The caller owns the same freshness contract
    as the stage catalog: a reused work dir implies unchanged input
    statements."""
    from_classes = schema.mapped_class_qids()
    from_classes_df = F.broadcast(_qids_df(spark, from_classes, "qid"))

    all_p279 = sub_class_edges(st)
    # mapped classes only have shape superclasses (plan.rs:437-441)
    wd_sub_class_of = all_p279.join(
        from_classes_df.withColumnRenamed("qid", "child"), "child", "left_anti"
    ).persist()
    down_edges = wd_sub_class_of.select(
        F.col("parent").alias("src"), F.col("child").alias("dst")
    )
    up_edges = wd_sub_class_of.select(
        F.col("child").alias("src"), F.col("parent").alias("dst")
    )

    p31 = instance_edges(st)

    # (key=from_class qid, node=descendant qid incl. self): the node
    # column is the mapped subtree
    desc_seeds = _qids_df(spark, from_classes, "key").select(
        "key", F.col("key").alias("node"))
    if closure_dir is not None:
        from ..operators.closure import transitive_closure_resumable

        bad = transitive_closure_resumable(
            _qids_df(spark, vocab.WD_BAD_CLASSES), down_edges,
            f"{closure_dir}/bad")
        desc = transitive_closure_resumable(
            desc_seeds, down_edges, f"{closure_dir}/desc")
    else:
        bad = transitive_closure(_qids_df(spark, vocab.WD_BAD_CLASSES),
                                 down_edges)
        desc = transitive_closure_pair(desc_seeds, down_edges)
    mapped_subtree = desc.select("node")

    # subclasses under a disjoint schema pair: descendants(c1) ∩
    # descendants(c2) for every disjoint (c1, c2) (plan.rs:486-508).
    disjoint_nodes = None
    for c1, c2 in schema.disjoint:
        q1 = schema.node_shape(c1).from_classes
        q2 = schema.node_shape(c2).from_classes
        if not q1 or not q2:
            continue
        d1 = desc.where(F.col("key").isin(list(q1))).select("node")
        d2 = desc.where(F.col("key").isin(list(q2))).select("node")
        inter = d1.intersect(d2)
        disjoint_nodes = inter if disjoint_nodes is None else disjoint_nodes.union(inter)
    if disjoint_nodes is None:
        disjoint_nodes = spark.createDataFrame([], "node long")
    # the disjoint pruning targets classes under BOTH sides, excluding the
    # mapped roots themselves (they are re-added below anyway)
    disjoint_nodes = disjoint_nodes.distinct()

    min_inst = instance_count_at_least(
        p31.select(F.col("cls")), schema.min_instances, "cls"
    ).withColumnRenamed("cls", "node")

    classes_to_keep = (
        mapped_subtree.join(min_inst, "node", "left_semi")
        .join(bad, "node", "left_anti")
        .join(disjoint_nodes, "node", "left_anti")
        .unionByName(_qids_df(spark, from_classes))
        .distinct()
    ).persist()

    kept_for_yago = (
        classes_to_keep.join(
            enwiki_mapping.withColumnRenamed("qid", "node"), "node", "left_semi"
        )
        .unionByName(_qids_df(spark, from_classes))
        .distinct()
    ).persist()

    # --- hierarchy: kept-for-yago class → mapped schema.org ancestors ---
    seeds = wd_sub_class_of.join(
        kept_for_yago.withColumnRenamed("node", "child"), "child", "left_semi"
    ).select(F.col("child").alias("key"), F.col("parent").alias("node"))
    ancestors = transitive_closure_pair(seeds, up_edges)
    mapped_ancestors = ancestors.join(
        from_classes_df.withColumnRenamed("qid", "node"), "node", "left_semi"
    )

    uri = uri_mapping  # (qid, yago)
    child_uri = (
        mapped_ancestors.join(uri.withColumnRenamed("qid", "key"), "key", "inner")
        .withColumnRenamed("yago", "child")
        .join(
            uri.withColumnRenamed("qid", "node").withColumnRenamed("yago", "parent"),
            "node",
            "inner",
        )
        .select("child", "parent")
    )
    schema_internal = spark.createDataFrame(
        schema.super_classes or [], "child string, parent string"
    )
    sub_class_of_full = child_uri.unionByName(schema_internal).distinct()

    # one-step transitive reduction (plan.rs:616-638)
    from ..operators.closure import transitive_reduction_step

    sub_class_of = transitive_reduction_step(sub_class_of_full).persist()

    # --- wd → yago class mapping (plan.rs:586-607) ---
    identity = kept_for_yago.select(
        F.col("node").alias("qid"), F.col("node").alias("anc")
    )
    not_for_yago = classes_to_keep.join(kept_for_yago, "node", "left_anti")
    nfy_seeds = not_for_yago.select(
        F.col("node").alias("key"), F.col("node").alias("node")
    )
    nfy_anc = transitive_closure_pair(nfy_seeds, up_edges).join(
        from_classes_df.withColumnRenamed("qid", "node"), "node", "left_semi"
    ).select(F.col("key").alias("qid"), F.col("node").alias("anc"))

    mapping_qid = identity.unionByName(nfy_anc)
    class_mapping = (
        mapping_qid.join(uri.withColumnRenamed("qid", "anc"), "anc", "inner")
        .select("qid", F.col("yago").alias("cls"))
        .distinct()
    )
    class_mapping = most_specific_filter(
        class_mapping, sub_class_of, "qid", "cls"
    ).persist()

    yago_classes = (
        kept_for_yago.withColumnRenamed("node", "qid")
        .join(uri, "qid", "inner")
        .select(F.col("yago").alias("cls"))
        .distinct()
        .persist()
    )

    return Taxonomy(
        yago_classes=yago_classes,
        class_mapping=class_mapping,
        sub_class_of=sub_class_of,
    )
