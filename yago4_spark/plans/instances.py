"""S6: per-shape instance sets.

Reference: ``yago_shape_instances`` (src/plan.rs:641-731): for each node
shape, instances of the shape's class and all its descendant YAGO
classes, minus entities that are themselves classes, minus instances
caught in a disjoint-pair intersection.

One keyed downward closure covers every shape at once (the reference
loops shapes and re-runs closures); the result is a single
``shape_instances(shape, instance)`` table — the left-semi-join side for
every domain/range filter in the facts pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.closure import transitive_closure_pair
from ..sources.statements import StatementsTable
from .shapes import Schema
from .taxonomy import Taxonomy, instance_edges


def build_shape_instances(
    spark: SparkSession,
    st: StatementsTable,
    schema: Schema,
    taxonomy: Taxonomy,
    uri_mapping: DataFrame,
) -> DataFrame:
    """Returns (shape, instance): shape = schema.org class IRI,
    instance = YAGO entity IRI."""
    p31 = instance_edges(st)  # (instance qid, cls qid)

    # wd instance → yago class IRI via the class mapping (plan.rs:661-672);
    # class_mapping is (qid=wd class, cls=yago class IRI)
    inst_cls = (
        p31.withColumnRenamed("cls", "qid")
        .join(taxonomy.class_mapping, "qid", "inner")
        .select("instance", F.col("cls").alias("yago_cls"))
        .distinct()
    )

    # shape → its yago-class subtree (self + descendants in the reduced
    # hierarchy), all shapes in one keyed closure (plan.rs:676-681)
    shape_seeds = spark.createDataFrame(
        [(ns.target_class, ns.target_class) for ns in schema.node_shapes],
        "key string, node string",
    )
    down = taxonomy.sub_class_of.select(
        F.col("parent").alias("src"), F.col("child").alias("dst")
    )
    shape_subtree = transitive_closure_pair(shape_seeds, down)  # (shape, cls)

    shape_inst_qid = (
        shape_subtree.withColumnRenamed("node", "yago_cls")
        .join(inst_cls, "yago_cls", "inner")
        .select(F.col("key").alias("shape"), "instance")
        .distinct()
    )

    # map instance qid → yago URI, drop entities that are classes
    # (plan.rs:684-687)
    inst_uri = (
        shape_inst_qid.withColumnRenamed("instance", "qid")
        .join(uri_mapping, "qid", "inner")
        .select("shape", F.col("yago").alias("instance"))
        .join(
            taxonomy.yago_classes.withColumnRenamed("cls", "instance"),
            "instance",
            "left_anti",
        )
        .distinct()
        .persist()
    )

    # disjoint-intersection removal (plan.rs:692-729)
    removed = None
    for c1, c2 in schema.disjoint:
        i1 = inst_uri.where(F.col("shape") == c1).select("instance")
        i2 = inst_uri.where(F.col("shape") == c2).select("instance")
        inter = i1.intersect(i2)
        removed = inter if removed is None else removed.union(inter)
    if removed is not None:
        inst_uri = inst_uri.join(removed.distinct(), "instance", "left_anti")

    return inst_uri.select("shape", "instance")
