"""Bucketed statements store: statement-identity joins between two
predicate scans must be storage-partitioned (no Exchange in the plan) —
the 100 TB lever for the facts pipeline's subject↔statement↔value joins
(at scale they otherwise shuffle the full statement stream on stmt_key
for every build; bucketing pays that shuffle once at load)."""

from __future__ import annotations

from pyspark.sql import functions as F

from yago4_spark.catalog import count_exchanges as _count_exchanges
from yago4_spark.fixtures import mini_wikidata_df
from yago4_spark.sources.statements import StatementsTable

TABLE = "stmts_bucketed_test"


def test_bucketed_stmt_join_no_exchange(spark):
    import shutil

    df = mini_wikidata_df(spark)
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    # a previously crashed run may leave the managed-table location behind
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{TABLE}", ignore_errors=True)
    StatementsTable.write_bucketed(df, TABLE, n_buckets=4)
    st = StatementsTable.from_table(spark, TABLE)

    # entity→statement rows join statement→value rows on stmt identity
    subj = st.stmt_scan(["p:P569"]).select(
        "stmt_key", F.col("subject.num").alias("qid"))
    vals = st.stmt_scan(["psv:P569"]).select(
        "stmt_key", F.col("object.text").alias("value_node"))
    joined = subj.hint("merge").join(vals, "stmt_key")

    rows = joined.collect()
    assert len(rows) > 0
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # the stmt_key column routing: p: rows keyed by OBJECT, psv: by SUBJECT
    got = {(r["stmt_key"], r["value_node"]) for r in rows}
    assert ("s42birth", "v42birth") in got
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_build_facts_on_bucketed_store(spark, tmp_path_factory):
    """VERDICT r02 item 4: build_facts over a write_bucketed store must
    (a) produce byte-identical facts to the plain store and (b) need
    strictly fewer hash Exchanges — the statement-identity joins reuse
    the storage partitioning."""
    import shutil

    from yago4_spark.fixtures import mini_wikidata_df, write_mini_wikidata
    from yago4_spark.plans.facts import build_facts
    from yago4_spark.plans.instances import build_shape_instances
    from yago4_spark.plans.shapes import sample_schema
    from yago4_spark.plans.taxonomy import build_taxonomy
    from yago4_spark.plans.uri_mapping import (
        YagoSize,
        build_uri_mapping,
        wikidata_to_enwiki_mapping,
    )
    from yago4_spark.terms import term_to_nt_py

    table = "stmts_bucketed_facts_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)

    path = str(tmp_path_factory.mktemp("mini_wd_bucketed") / "statements")
    write_mini_wikidata(spark, path)
    StatementsTable.write_bucketed(mini_wikidata_df(spark), table, n_buckets=4)

    def run(st):
        schema = sample_schema(min_instances=2)
        uri = build_uri_mapping(spark, st, schema, YagoSize.FULL).persist()
        tax = build_taxonomy(spark, st, schema, uri,
                             wikidata_to_enwiki_mapping(st))
        insts = build_shape_instances(spark, st, schema, tax, uri).persist()
        return build_facts(spark, st, schema, insts, uri)

    plain = run(StatementsTable(spark, path))
    bucketed = run(StatementsTable.from_table(spark, table))

    def triples(df):
        return sorted(
            tuple(term_to_nt_py(row[c].asDict())
                  for c in ("subject", "predicate", "object"))
            for row in df.collect()
        )

    assert triples(plain.facts) == triples(bucketed.facts)

    ex_plain = _count_exchanges(plain.facts)
    ex_bucketed = _count_exchanges(bucketed.facts)
    assert ex_bucketed < ex_plain, (ex_bucketed, ex_plain)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
