"""End-to-end golden test for the facts pipeline (value cleaning, 9-way
dispatch, best-rank, domain/range filters, sh:pattern, sh:maxCount, RDF★
annotations). Goldens hand-computed from the reference rules
(src/plan.rs:896-1687); the fixture design notes each rule exercised."""

from __future__ import annotations

import pytest

from yago4_spark import terms, vocab
from yago4_spark.fixtures import write_mini_wikidata
from yago4_spark.plans.facts import build_facts
from yago4_spark.plans.instances import build_shape_instances
from yago4_spark.plans.shapes import sample_schema
from yago4_spark.plans.taxonomy import build_taxonomy
from yago4_spark.plans.uri_mapping import (
    YagoSize,
    build_uri_mapping,
    wikidata_to_enwiki_mapping,
)
from yago4_spark.sources.statements import StatementsTable

Y = "http://yago-knowledge.org/resource/"
S = vocab.SCHEMA
X = vocab.XSD
WDV = "http://www.wikidata.org/value/"
COMMONS = vocab.COMMONS_FILEPATH_PREFIX


@pytest.fixture(scope="module")
def facts_result(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mini_wd_facts") / "statements")
    write_mini_wikidata(spark, path)
    st = StatementsTable(spark, path)
    schema = sample_schema(min_instances=2)
    uri = build_uri_mapping(spark, st, schema, YagoSize.FULL).persist()
    tax = build_taxonomy(spark, st, schema, uri, wikidata_to_enwiki_mapping(st))
    insts = build_shape_instances(spark, st, schema, tax, uri).persist()
    return build_facts(spark, st, schema, insts, uri)


def nt(row_term) -> str:
    return terms.term_to_nt_py(row_term.asDict() if hasattr(row_term, "asDict") else row_term)


def collect_triples(df):
    return {
        (nt(r["subject"]), nt(r["predicate"]), nt(r["object"]))
        for r in df.collect()
    }


def t(s, p, o):
    return (f"<{s}>", f"<{p}>", o)


def lit(value, dt):
    return f'"{value}"^^<{dt}>'


GEO = "geo:52.52,13.41"

EXPECTED_FACTS = {
    # --- birthDate (dates sh:or, maxCount 1, best-rank) ---
    t(Y + "Douglas_Adams", S + "birthDate", lit("1952-03-11", X + "date")),
    t(Y + "Dürst_Q2002", S + "birthDate", lit("1960", X + "gYear")),
    t(Y + "_Q2003", S + "birthDate", lit("1970-05", X + "gYearMonth")),
    t(Y + "Paris_Hilton%2FBio", S + "birthDate",
      lit("1980-07-04T12:30:05+00:00", X + "dateTime")),
    # Q2005 Julian → dropped; Q2010 two best-rank values → maxCount drops all
    # --- deathDate ---
    t(Y + "Douglas_Adams", S + "deathDate", lit("2001-05-11", X + "date")),
    # --- spouse (range Person; Q2002→Q2050 out-of-range dropped) ---
    t(Y + "Douglas_Adams", S + "spouse", f"<{Y}Dürst_Q2002>"),
    # --- birthPlace (range Place) ---
    t(Y + "Douglas_Adams", S + "birthPlace", f"<{Y}Berlin>"),
    # --- geo (Earth only; IRI rounded, side triples original doubles) ---
    t(Y + "Berlin", S + "geo", f"<{GEO}>"),
    t(GEO, vocab.RDF_TYPE, f"<{S}GeoCoordinates>"),
    t(GEO, S + "latitude", lit("52.52437", X + "double")),
    t(GEO, S + "longitude", lit("13.41053", X + "double")),
    # --- url (anyURI; http://[bad unparsable → dropped) ---
    t(Y + "Org_A_Q2060", S + "url", lit("https://example.org/org-a", X + "anyURI")),
    # --- image (commons prefix filter) ---
    t(Y + "Douglas_Adams", S + "image",
      f"<{COMMONS}Douglas%20adams%20portrait.jpg>"),
    # --- duration (negative amount reproduces reference's -P-3D) ---
    t(Y + "Work_One", S + "duration", lit("PT42S", X + "duration")),
    t(Y + "Work_Two_Q2051", S + "duration", lit("-P-3D", X + "duration")),
    # --- integer quantity (unit must be Q199; wrong unit dropped) ---
    t(Y + "Work_One", S + "numberOfPages", lit("250", X + "integer")),
    # --- full QuantitativeValue (5 side triples) ---
    t(Y + "Douglas_Adams", S + "weight", f"<{WDV}v42mass>"),
    t(WDV + "v42mass", vocab.RDF_TYPE, f"<{S}QuantitativeValue>"),
    t(WDV + "v42mass", S + "value", lit("+70.5", X + "decimal")),
    t(WDV + "v42mass", S + "minValue", lit("+70", X + "decimal")),
    t(WDV + "v42mass", S + "maxValue", lit("+71", X + "decimal")),
    t(WDV + "v42mass", S + "unitCode", f"<{Y}_Q11570>"),
    # --- issn (sh:pattern; non-matching dropped) ---
    t(Y + "Work_One", S + "issn", '"2049-3630"'),
    # --- familyName (plain string) ---
    t(Y + "Douglas_Adams", S + "familyName", '"Adams"'),
}


def test_facts_golden(facts_result):
    got = collect_triples(facts_result.facts)
    missing = EXPECTED_FACTS - got
    extra = got - EXPECTED_FACTS
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:8]}"
    assert not extra, f"extra {len(extra)}: {sorted(extra)[:8]}"


def _annotated_set(df):
    return {
        (
            nt(r["subject"]), nt(r["predicate"]), nt(r["object"]),
            nt(r["annotation_predicate"]) if r["annotation_predicate"] else None,
            nt(r["annotation_object"]) if r["annotation_object"] else None,
        )
        for r in df.collect()
    }


def test_annotated_facts_golden(facts_result):
    got = _annotated_set(facts_result.annotated)
    assert got == {
        (
            f"<{Y}Douglas_Adams>", f"<{S}spouse>", f"<{Y}Dürst_Q2002>",
            f"<{S}startDate>", lit("1991-11-25", X + "date"),
        )
    }


def test_annotation_shapes_empty_and_simple_prefix(spark, tmp_path):
    """(a) A schema with no annotation shapes builds the facts and an
    empty RDF★ frame. (b) A string-typed annotation shape reads its
    qualifier values from pq: (the simple-prefix branch): a string value
    annotates its fact, a value of another datatype is dropped."""
    from dataclasses import replace

    from pyspark.sql.types import StructType

    from yago4_spark.fixtures import PQ, mini_wikidata_triples
    from yago4_spark.plans.shapes import AnnotationShape

    pid = 1932  # "object named as": a string-valued qualifier
    triples = mini_wikidata_triples() + [
        (terms.blank("s42death"), terms.prop(pid, PQ), terms.string("DNA")),
        (terms.blank("s42birth"), terms.prop(pid, PQ), terms.integer(7)),
    ]
    row = StructType().add("subject", terms.TERM_SCHEMA) \
        .add("predicate", terms.TERM_SCHEMA).add("object", terms.TERM_SCHEMA)
    path = str(tmp_path / "statements")
    StatementsTable.write(spark.createDataFrame(triples, row), path)
    st = StatementsTable(spark, path)
    schema = sample_schema(min_instances=2)
    # checkpointed like the pipeline's stage commits: a persisted
    # instances frame keeps its whole taxonomy plan, and the facts plans
    # over it render multi-hundred-MB explain strings
    uri = build_uri_mapping(spark, st, schema, YagoSize.FULL).localCheckpoint()
    tax = build_taxonomy(spark, st, schema, uri, wikidata_to_enwiki_mapping(st))
    insts = build_shape_instances(spark, st, schema, tax, uri).localCheckpoint()

    bare = build_facts(
        spark, st, replace(schema, annotation_shapes=[]), insts, uri)
    assert collect_triples(bare.facts) == EXPECTED_FACTS
    assert bare.annotated.count() == 0

    named = AnnotationShape(S + "name", (pid,), (vocab.XSD_STRING,))
    res = build_facts(
        spark, st,
        replace(schema, annotation_shapes=[*schema.annotation_shapes, named]),
        insts, uri)
    assert _annotated_set(res.annotated) == {
        (
            f"<{Y}Douglas_Adams>", f"<{S}spouse>", f"<{Y}Dürst_Q2002>",
            f"<{S}startDate>", lit("1991-11-25", X + "date"),
        ),
        (
            f"<{Y}Douglas_Adams>", f"<{S}deathDate>",
            lit("2001-05-11", X + "date"), f"<{S}name>", '"DNA"',
        ),
    }


def test_unique_lang_enforcement(spark, tmp_path):
    """sh:uniqueLang opt-in: the reference parses it but never enforces
    (documented gap); enforcement keeps one deterministic value per
    (subject, predicate, lang)."""
    from yago4_spark import terms, vocab
    from yago4_spark.plans.outputs import build_simple_properties
    from yago4_spark.plans.shapes import sample_schema
    from yago4_spark.sources.statements import StatementsTable
    from pyspark.sql import functions as F

    rows = [
        (terms.item(1), terms.iri(vocab.SKOS_PREF_LABEL),
         terms.lang_string("Beta", "en")),
        (terms.item(1), terms.iri(vocab.SKOS_PREF_LABEL),
         terms.lang_string("Alpha", "en")),
        (terms.item(1), terms.iri(vocab.SKOS_PREF_LABEL),
         terms.lang_string("Gamma", "fr")),
        (terms.item(1), terms.iri(vocab.RDF_TYPE),
         terms.iri(vocab.WIKIBASE_ITEM)),
    ]
    df = spark.createDataFrame(rows, "subject struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>, predicate struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>, object struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>")
    path = str(tmp_path / "ul_statements")
    StatementsTable.write(df, path)
    st = StatementsTable(spark, path)
    schema = sample_schema(min_instances=1)
    uri = spark.createDataFrame([(1, "http://y/E1")], "qid long, yago string")
    inst = spark.createDataFrame(
        [(vocab.SCHEMA_THING, "http://y/E1")], "shape string, instance string")

    plain = build_simple_properties(
        st, schema, inst, uri, (vocab.RDFS_LABEL,))
    assert plain.count() == 3  # both @en labels survive (reference parity)

    enforced = build_simple_properties(
        st, schema, inst, uri, (vocab.RDFS_LABEL,), enforce_unique_lang=True)
    got = {(r["object"]["lang"], r["object"]["text"])
           for r in enforced.collect()}
    assert got == {("en", "Alpha"), ("fr", "Gamma")}
