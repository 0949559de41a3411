"""Full-pipeline end-to-end test: run_pipeline over the fixture, check
each output table's goldens, then re-run to prove resume (no stage
rebuilds). The per-output rules cite src/plan.rs in plans/outputs.py."""

from __future__ import annotations

import os

import pytest

from yago4_spark import terms, vocab
from yago4_spark.fixtures import write_mini_wikidata
from yago4_spark.pipeline import run_pipeline
from yago4_spark.plans.shapes import sample_schema

Y = "http://yago-knowledge.org/resource/"
S = vocab.SCHEMA


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pipeline")
    write_mini_wikidata(spark, str(base / "statements"))
    return run_pipeline(
        spark, str(base / "statements"), str(base / "work"),
        sample_schema(min_instances=2),
    )


def triples(df):
    return {
        tuple(
            terms.term_to_nt_py(r[c].asDict())
            for c in ("subject", "predicate", "object")
        )
        for r in df.collect()
    }


def test_all_outputs_exist_and_nonempty(result):
    for name, df in result.outputs.items():
        assert df.count() > 0, name


def test_labels_output(result):
    got = triples(result.outputs["labels"])
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.RDFS_LABEL}>", '"Douglas Adams"@en') in got
    assert (
        f"<{Y}Douglas_Adams>", f"<{vocab.RDFS_COMMENT}>",
        '"English writer and humorist"@en',
    ) in got
    assert (f"<{Y}Douglas_Adams>", f"<{S}alternateName>", '"DNA"@en') in got
    # labels only for shape instances: the fr-only label of Q2003 was used
    # for no URI, but Q2003 has no @en label at all → no rdfs:label row;
    # the fr label itself passes the datatype filter (langString) — check
    # it's attached to the fallback URI
    assert (f"<{Y}_Q2003>", f"<{vocab.RDFS_LABEL}>", '"Personne"@fr') in got


def test_simple_types_output(result):
    got = triples(result.outputs["simple_types"])
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.RDF_TYPE}>", f"<{S}Person>") in got
    assert (f"<{Y}Berlin>", f"<{vocab.RDF_TYPE}>", f"<{S}Place>") in got
    # Thing rows exist for every instance
    assert (f"<{Y}Berlin>", f"<{vocab.RDF_TYPE}>", f"<{S}Thing>") in got


def test_full_types_output(result):
    got = triples(result.outputs["full_types"])
    # P31-derived: Q2010 is instance of wd class 1000 → yago:Scientist
    assert (f"<{Y}Sci_2010_Q2010>", f"<{vocab.RDF_TYPE}>", f"<{Y}Scientist>") in got
    # Q42 P31 Q5 → schema:Person (class mapping identity for Q5)
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.RDF_TYPE}>", f"<{S}Person>") in got
    # instances of the no-enwiki class 1400 map up to schema:Place
    assert (f"<{Y}Village_2040_Q2040>", f"<{vocab.RDF_TYPE}>", f"<{S}Place>") in got


def test_classes_output(result):
    got = triples(result.outputs["classes"])
    assert (f"<{Y}Scientist>", f"<{vocab.RDF_TYPE}>",
            "<http://www.w3.org/2002/07/owl#Class>") in got
    assert (f"<{Y}Scientist>", f"<{vocab.RDFS_SUBCLASS_OF}>", f"<{S}Person>") in got
    assert (f"<{Y}Scientist>", f"<{vocab.RDFS_COMMENT}>",
            '"person studying nature"@en') in got


def test_same_as_output(result):
    got = triples(result.outputs["same_as"])
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.OWL_SAME_AS}>",
            "<http://www.wikidata.org/entity/Q42>") in got
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.OWL_SAME_AS}>",
            "<http://dbpedia.org/resource/Douglas_Adams>") in got
    assert (f"<{Y}Douglas_Adams>", f"<{vocab.OWL_SAME_AS}>",
            "<http://rdf.freebase.com/ns/m.0282x>") in got
    # invalid freebase id dropped
    assert not any("badid" in o for _, _, o in got)
    # wikipedia links use schema:sameAs with anyURI literal
    assert (
        f"<{Y}Douglas_Adams>", f"<{S}sameAs>",
        '"https://en.wikipedia.org/wiki/Douglas_Adams"^^<http://www.w3.org/2001/XMLSchema#anyURI>',
    ) in got
    # classes are not things → no sameAs for Scientist
    assert not any(Y + "Scientist" in s for s, _, _ in got)


def test_resume_skips_rebuild(result, spark, tmp_path_factory):
    cat = result.catalog
    stages = [m["stage"] for m in cat.metrics()]
    for required in ("uri_mapping", "yago_classes", "facts", "same_as"):
        assert required in stages
    # the taxonomy commits two walks: the bad-class subtree and the one
    # keyed walk down from the mapped classes
    assert sorted(os.listdir(f"{cat.root}/closure")) == ["bad", "desc"]
    # all stages committed → a second run must read, not rebuild
    import yago4_spark.pipeline as pl

    original = (pl.build_taxonomy, pl.build_facts, pl.build_uri_mapping)

    def boom(*a, **k):
        raise AssertionError("stage was rebuilt despite checkpoint")

    pl.build_taxonomy = pl.build_facts = pl.build_uri_mapping = boom
    try:
        res2 = pl.run_pipeline(
            spark,
            str(cat.root).replace("/work", "/statements"),
            cat.root,
            sample_schema(min_instances=2),
        )
        assert res2.outputs["facts"].count() == result.outputs["facts"].count()
    finally:
        pl.build_taxonomy, pl.build_facts, pl.build_uri_mapping = original


def test_resume_from_uri_work_dir(spark, tmp_path, monkeypatch):
    """A ``file://`` work dir commits and resumes like a plain path: the
    manifests are written and found through the Hadoop FileSystem, so a
    second run reads every stage back instead of rebuilding it, and no
    stray relative ``file:`` directory appears in the cwd."""
    import yago4_spark.pipeline as pl

    write_mini_wikidata(spark, str(tmp_path / "statements"))
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    work = "file://" + str(tmp_path / "work")
    schema = sample_schema(min_instances=2)
    first = pl.run_pipeline(spark, str(tmp_path / "statements"), work, schema)
    n_facts = first.outputs["facts"].count()

    def boom(*a, **k):
        raise AssertionError("stage was rebuilt despite checkpoint")

    for name in ("build_taxonomy", "build_facts", "build_uri_mapping"):
        monkeypatch.setattr(pl, name, boom)
    again = pl.run_pipeline(spark, str(tmp_path / "statements"), work, schema)
    assert again.outputs["facts"].count() == n_facts
    assert {m["stage"] for m in again.catalog.metrics()} >= {
        "uri_mapping", "yago_classes", "facts", "same_as"}
    assert not (cwd / "file:").exists()
