"""The full build pipeline — the analog of ``generate_yago``
(src/plan.rs:64-203), as staged, resumable DataFrame jobs.

Stage graph (each stage = one StageCatalog table; rerunning skips
committed stages — the reference restarts from zero on any crash):

    statements ─┬─ uri_mapping
                ├─ taxonomy (yago_classes / class_mapping / sub_class_of)
                ├─ shape_instances
                └─ outputs: classes / simple_types / full_types / labels /
                           facts / annotated_facts / same_as / schema / shapes
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .catalog import StageCatalog
from .plans.facts import build_facts
from .plans.instances import build_shape_instances
from .plans.outputs import (
    build_classes_description,
    build_full_instance_of,
    build_same_as,
    build_simple_instance_of,
    build_simple_properties,
    build_yago_schema_triples,
    build_yago_shapes_triples,
)
from .plans.shapes import Schema
from .plans.taxonomy import Taxonomy, build_taxonomy
from .plans.uri_mapping import (
    YagoSize,
    build_uri_mapping,
    wikidata_to_enwiki_mapping,
)
from .sources.ntriples import write_ntriples
from .sources.statements import StatementsTable
from . import vocab

LABEL_PROPERTIES = (
    vocab.RDFS_LABEL,
    vocab.RDFS_COMMENT,
    vocab.SCHEMA_ALTERNATE_NAME,
)

OUTPUTS = (
    "classes", "simple_types", "full_types", "labels",
    "facts", "annotated_facts", "same_as", "yago_schema", "yago_shapes",
)


@dataclass
class PipelineResult:
    catalog: StageCatalog
    outputs: dict[str, DataFrame]


def run_pipeline(
    spark: SparkSession,
    statements_path: str,
    work_dir: str,
    schema: Schema,
    size: YagoSize = YagoSize.FULL,
    export_nt_dir: str | None = None,
    statements: StatementsTable | None = None,
) -> PipelineResult:
    """``statements`` overrides the plain parquet store at
    ``statements_path`` — pass ``StatementsTable.from_table`` for a
    bucketed store so the facts joins reuse storage partitioning."""
    st = statements if statements is not None else StatementsTable(
        spark, statements_path)
    cat = StageCatalog(spark, work_dir)

    uri_mapping = cat.get_or_create(
        "uri_mapping",
        lambda: build_uri_mapping(spark, st, schema, size),
        lineage={"inputs": ["statements"], "size": size.value},
    ).persist()
    enwiki = wikidata_to_enwiki_mapping(st)

    if not all(
        cat.exists(n) for n in ("yago_classes", "class_mapping", "sub_class_of")
    ):
        tax = build_taxonomy(spark, st, schema, uri_mapping, enwiki,
                             closure_dir=f"{work_dir}/closure")
        cat.write("yago_classes", tax.yago_classes,
                  lineage={"inputs": ["statements", "uri_mapping"]})
        cat.write("class_mapping", tax.class_mapping,
                  lineage={"inputs": ["statements", "uri_mapping"]})
        cat.write("sub_class_of", tax.sub_class_of,
                  lineage={"inputs": ["statements", "uri_mapping"]})
    taxonomy = Taxonomy(
        yago_classes=cat.read("yago_classes").persist(),
        class_mapping=cat.read("class_mapping").persist(),
        sub_class_of=cat.read("sub_class_of").persist(),
    )

    shape_instances = cat.get_or_create(
        "shape_instances",
        lambda: build_shape_instances(spark, st, schema, taxonomy, uri_mapping),
        partition_by=["shape"],
        lineage={"inputs": ["statements", "uri_mapping", "class_mapping",
                            "sub_class_of"]},
    ).persist()
    things = shape_instances.where(
        shape_instances["shape"] == vocab.SCHEMA_THING
    ).select("instance")

    outputs: dict[str, DataFrame] = {}

    def out_stage(name: str, build, lineage_inputs: list[str]):
        outputs[name] = cat.get_or_create(
            name, build, lineage={"inputs": lineage_inputs}
        )

    out_stage("classes",
              lambda: build_classes_description(st, taxonomy, uri_mapping),
              ["statements", "uri_mapping", "yago_classes", "sub_class_of"])
    out_stage("simple_types",
              lambda: build_simple_instance_of(shape_instances),
              ["shape_instances"])
    out_stage("full_types",
              lambda: build_full_instance_of(st, taxonomy, things, uri_mapping),
              ["statements", "class_mapping", "shape_instances", "uri_mapping"])
    out_stage("labels",
              lambda: build_simple_properties(
                  st, schema, shape_instances, uri_mapping, LABEL_PROPERTIES),
              ["statements", "shape_instances", "uri_mapping"])

    if not (cat.exists("facts") and cat.exists("annotated_facts")):
        res = build_facts(
            spark, st, schema, shape_instances, uri_mapping,
            exclude_properties=LABEL_PROPERTIES,
        )
        cat.write("facts", res.facts,
                  lineage={"inputs": ["statements", "shape_instances",
                                      "uri_mapping"]})
        cat.write("annotated_facts", res.annotated,
                  lineage={"inputs": ["statements", "shape_instances",
                                      "uri_mapping"]})
    outputs["facts"] = cat.read("facts")
    outputs["annotated_facts"] = cat.read("annotated_facts")

    out_stage("same_as",
              lambda: build_same_as(st, shape_instances.where(
                  shape_instances["shape"] == vocab.SCHEMA_THING
              ).select("instance"), uri_mapping, enwiki),
              ["statements", "shape_instances", "uri_mapping"])
    out_stage("yago_schema",
              lambda: build_yago_schema_triples(spark, schema), [])
    out_stage("yago_shapes",
              lambda: build_yago_shapes_triples(spark, schema), [])

    if export_nt_dir:
        for name, df in outputs.items():
            write_ntriples(df, f"{export_nt_dir}/yago-wd-{name}.nt.gz")

    return PipelineResult(catalog=cat, outputs=outputs)
