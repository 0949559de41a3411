"""S7+S8: value cleaning and the facts pipeline — the hot inner loop.

Reference: ``build_properties_from_wikidata_and_schema``
(src/plan.rs:896-1202) and the 9-way value dispatch
``map_wikidata_property_value`` (src/plan.rs:1209-1400).

Shape of the Spark job:

1. Five "clean value" tables are built ONCE from the wikibase:* value
   nodes (times, coordinates, durations, integers, quantities —
   src/plan.rs:908-1032 computes these on 5 threads; here they are 5
   small DataFrames shared by every property shape).
2. Shapes are grouped by their value-dispatch branch (the 9-way
   dispatch, src/plan.rs:1209-1400) and each branch runs as ONE
   DataFrame plan over a ``predicate_key IN (...)`` scan carrying the
   shape index (``sid``) as a column. The subject side (p:P{id} scan →
   best-rank semi-join → URI map → domain semi-join) is likewise one
   shared plan for all shapes. Per-shape constraints (allowed
   datatypes, expected object classes, sh:pattern, sh:maxCount, parent
   class) are broadcast-joined (sid, value) config tables — at the real
   218-shape config this is 9 branch jobs instead of ~205 sequential
   per-shape jobs (measured 159s → 63s on the mini fixture; the gap
   widens with shape count since each eliminated job is a scheduling
   barrier).
3. Annotation shapes go through the same branch dispatch, over the
   qualifier prefixes pq:/pqv: instead of ps:/psv:, and their values
   join on statement id into the RDF★ frame
   (src/plan.rs:1034-1064,1165-1192). There is one value dispatch for
   both.

Every scan is partition-pruned (predicate partitions only), every
config-sized side (shape lists) is a broadcast literal.

Statement/value nodes are keyed by their IRI/blank-node text
(``stmt_key``) — statement identity joins are string equi-joins.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructField, StructType

from .. import vocab
from ..functions.values import (
    convert_duration_cols,
    convert_integer_cols,
    convert_time_cols,
    geo_iri,
    normalize_url,
    quantity_value_iri,
)
from ..operators.relational import first_value
from ..sources.statements import StatementsTable
from ..terms import TERM_SCHEMA, term_sort_key_col
from .shapes import AnnotationShape, PropertyShape, Schema

# --- term-struct column builders -----------------------------------------

def term_struct(kind: Column, text: Column = None, num: Column = None,
                dbl: Column = None, lang: Column = None,
                datatype: Column = None) -> Column:
    null_s = F.lit(None).cast("string")
    return F.struct(
        kind.alias("kind"),
        (text if text is not None else null_s).alias("text"),
        (num if num is not None else F.lit(None).cast("long")).alias("num"),
        (dbl if dbl is not None else F.lit(None).cast("double")).alias("dbl"),
        (lang if lang is not None else null_s).alias("lang"),
        (datatype if datatype is not None else null_s).alias("datatype"),
    )


def iri_term(text: Column) -> Column:
    return term_struct(F.lit("iri"), text=text)


def iri_lit(value: str) -> Column:
    return iri_term(F.lit(value))


def typed_term(text: Column, datatype: Column) -> Column:
    return term_struct(F.lit("typed"), text=text, datatype=datatype)


def triple_struct(s: Column, p: Column, o: Column) -> Column:
    return F.struct(s.alias("subject"), p.alias("predicate"), o.alias("object"))


_EMPTY_SIDES = "array<struct<subject:struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>,predicate:struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>,object:struct<kind:string,text:string,num:bigint,dbl:double,lang:string,datatype:string>>>"


def no_sides() -> Column:
    return F.lit(None).cast(_EMPTY_SIDES)


def datatype_of(term: Column) -> Column:
    """The RDF datatype IRI of a literal term (None for IRIs/items/blank)
    — YagoTerm::datatype (src/model.rs:141-155)."""
    return (
        F.when(term["kind"] == "string", F.lit(vocab.XSD_STRING))
        .when(term["kind"] == "integer", F.lit(vocab.XSD_INTEGER))
        .when(term["kind"] == "decimal", F.lit(vocab.XSD_DECIMAL))
        .when(term["kind"] == "double", F.lit(vocab.XSD_DOUBLE))
        .when(term["kind"] == "dateTime", F.lit(vocab.XSD_DATE_TIME))
        .when(term["kind"] == "langString", F.lit(vocab.RDF_LANG_STRING))
        .when(term["kind"] == "typed", term["datatype"])
    )


# --- clean value tables (plan.rs:908-1032) --------------------------------

@dataclass
class CleanValues:
    times: DataFrame        # (node, object term)
    coordinates: DataFrame  # (node, object term, sides array)
    durations: DataFrame    # (node, object term)
    integers: DataFrame     # (node, object term)
    quantities: DataFrame   # (node, object term, sides array)


def _node_first(st: StatementsTable, predicate_key: str, value_col) -> DataFrame:
    """(node, value) with a deterministic single value per node."""
    scan = st.scan(predicate_key).select(
        F.col("subject.text").alias("node"), F.col("object").alias("o")
    )
    picked = first_value(scan, ["node"], term_sort_key_col(F.col("o")))
    return picked.select("node", value_col(F.col("o")).alias("value"))


def build_clean_values(st: StatementsTable, uri_mapping: DataFrame) -> CleanValues:
    # times ------------------------------------------------------------
    time_value = st.scan("wikibase:timeValue").where(
        F.col("object.kind") == "dateTime"
    ).select(F.col("subject.text").alias("node"), F.col("object.text").alias("t"))
    time_value = first_value(time_value, ["node"], F.col("t"))
    precision = _node_first(st, "wikibase:timePrecision", lambda o: o["num"])
    precision = precision.withColumnRenamed("value", "precision")
    calendar = _node_first(st, "wikibase:timeCalendarModel", lambda o: o["num"])
    calendar = calendar.withColumnRenamed("value", "calendar")
    joined = time_value.join(precision, "node", "inner").join(calendar, "node", "inner")
    lex, dt = convert_time_cols(F.col("t"), F.col("precision"), F.col("calendar"))
    times = (
        joined.withColumn("lex", lex)
        .withColumn("dt", dt)
        .where(F.col("lex").isNotNull())
        .select(
            "node",
            F.when(
                F.col("precision") == 14,
                term_struct(F.lit("dateTime"), text=F.col("lex")),
            )
            .otherwise(typed_term(F.col("lex"), F.col("dt")))
            .alias("object"),
        )
    )

    # coordinates --------------------------------------------------------
    lat = _node_first(st, "wikibase:geoLatitude", lambda o: o["dbl"]).withColumnRenamed("value", "lat")
    lng = _node_first(st, "wikibase:geoLongitude", lambda o: o["dbl"]).withColumnRenamed("value", "lng")
    prec = _node_first(st, "wikibase:geoPrecision", lambda o: o["dbl"]).withColumnRenamed("value", "prec")
    globe = _node_first(st, "wikibase:geoGlobe", lambda o: o["num"]).withColumnRenamed("value", "globe")
    geo = (
        lat.join(lng, "node", "inner")
        .join(prec, "node", "inner")
        .join(globe, "node", "inner")
        .where(F.col("globe") == vocab.Q_EARTH)
        .withColumn("iri", geo_iri(F.col("lat"), F.col("lng"), F.col("prec")))
        .where(F.col("iri").isNotNull())
    )
    geo_term = iri_term(F.col("iri"))
    coordinates = geo.select(
        "node",
        geo_term.alias("object"),
        F.array(
            triple_struct(geo_term, iri_lit(vocab.RDF_TYPE),
                          iri_lit(vocab.SCHEMA_GEO_COORDINATES)),
            triple_struct(geo_term, iri_lit(vocab.SCHEMA_LATITUDE),
                          term_struct(F.lit("double"), dbl=F.col("lat"))),
            triple_struct(geo_term, iri_lit(vocab.SCHEMA_LONGITUDE),
                          term_struct(F.lit("double"), dbl=F.col("lng"))),
        ).alias("sides"),
    )

    # quantity bases -------------------------------------------------------
    amount = st.scan("wikibase:quantityAmount").where(
        F.col("object.kind") == "decimal"
    ).select(F.col("subject.text").alias("node"), F.col("object.text").alias("amount"))
    amount = first_value(amount, ["node"], F.col("amount"))
    unit = _node_first(st, "wikibase:quantityUnit", lambda o: o["num"]).withColumnRenamed("value", "unit")
    amount_unit = amount.join(unit, "node", "inner")

    durations = (
        amount_unit.withColumn(
            "lex", convert_duration_cols(F.col("amount"), F.col("unit"))
        )
        .where(F.col("lex").isNotNull())
        .select("node", typed_term(F.col("lex"), F.lit(vocab.XSD_DURATION)).alias("object"))
    )
    integers = (
        amount_unit.withColumn(
            "n", convert_integer_cols(F.col("amount"), F.col("unit"))
        )
        .where(F.col("n").isNotNull())
        .select("node", term_struct(F.lit("integer"), num=F.col("n")).alias("object"))
    )

    # full quantities (unit mapped to yago URI; lower+upper required —
    # plan.rs:998-1031)
    lower = st.scan("wikibase:quantityLowerBound").where(
        F.col("object.kind") == "decimal"
    ).select(F.col("subject.text").alias("node"), F.col("object.text").alias("lower"))
    lower = first_value(lower, ["node"], F.col("lower"))
    upper = st.scan("wikibase:quantityUpperBound").where(
        F.col("object.kind") == "decimal"
    ).select(F.col("subject.text").alias("node"), F.col("object.text").alias("upper"))
    upper = first_value(upper, ["node"], F.col("upper"))
    unit_uri = unit.join(
        uri_mapping.withColumnRenamed("qid", "unit"), "unit", "inner"
    ).select("node", F.col("yago").alias("unit_uri"))
    q = (
        unit_uri.join(amount, "node", "inner")
        .join(lower, "node", "inner")
        .join(upper, "node", "inner")
        .where(F.col("node").startswith("http"))  # value node must be an IRI
        .withColumn("q_iri", quantity_value_iri(F.col("node")))
    )
    q_term = iri_term(F.col("q_iri"))
    quantities = q.select(
        "node",
        q_term.alias("object"),
        F.array(
            triple_struct(q_term, iri_lit(vocab.RDF_TYPE),
                          iri_lit(vocab.SCHEMA_QUANTITATIVE_VALUE)),
            triple_struct(q_term, iri_lit(vocab.SCHEMA_VALUE),
                          term_struct(F.lit("decimal"), text=F.col("amount"))),
            triple_struct(q_term, iri_lit(vocab.SCHEMA_MIN_VALUE),
                          term_struct(F.lit("decimal"), text=F.col("lower"))),
            triple_struct(q_term, iri_lit(vocab.SCHEMA_MAX_VALUE),
                          term_struct(F.lit("decimal"), text=F.col("upper"))),
            triple_struct(q_term, iri_lit(vocab.SCHEMA_UNIT_CODE),
                          iri_term(F.col("unit_uri"))),
        ).alias("sides"),
    )

    return CleanValues(
        times=times.persist(),
        coordinates=coordinates.persist(),
        durations=durations.persist(),
        integers=integers.persist(),
        quantities=quantities.persist(),
    )


# --- the facts assembly (plan.rs:1069-1199) -------------------------------

@dataclass
class FactsResult:
    facts: DataFrame       # (subject, predicate, object) term structs
    annotated: DataFrame   # + (annotation_predicate, annotation_object)


def best_rank_statements(st: StatementsTable) -> DataFrame:
    """stmt keys typed wikibase:BestRank (plan.rs:1080-1083). Reads via
    stmt_scan so the bucketed store's partitioning makes the best-rank
    semi-join Exchange-free."""
    return (
        st.stmt_scan(["rdf:type"])
        .where(
            (F.col("object.kind") == "iri")
            & (F.col("object.text") == vocab.WIKIBASE_BEST_RANK)
        )
        .select("stmt_key")
        .distinct()
    )


# --- branch-grouped assembly --------------------------------------------
#
# The reference loops its ~205 property shapes sequentially
# (plan.rs:1069-1074); a literal Spark translation is ~205 serial job
# barriers. Instead, shapes are grouped by their value-dispatch branch
# (plan.rs:1209-1400 has 9 of them) and each branch is ONE DataFrame plan
# over a `predicate_key IN (...)` scan that carries the shape index
# (`sid`) as a column — 9 compact plans instead of 205, with every
# per-shape constraint (allowed datatypes, allowed object classes,
# sh:pattern, sh:maxCount, domain class) expressed as a broadcast-joined
# (sid, value) config table. The annotation shapes take the same
# dispatch over the qualifier prefixes pq:/pqv: instead of ps:/psv:
# (plan.rs:1034-1064 calls the one map_wikidata_property_value too).

Shape = PropertyShape | AnnotationShape

_DATE_DTS = sorted(
    [vocab.XSD_DATE, vocab.XSD_DATE_TIME, vocab.XSD_G_YEAR, vocab.XSD_G_YEAR_MONTH]
)

_PREFIX_KEYS = {
    "ps": "ps:P", "psv": "psv:P", "pq": "pq:P", "pqv": "pqv:P", "p": "p:P",
}


def _dispatch_branch(schema: Schema, shape: Shape) -> str | None:
    """Which of the 9 value branches handles this shape (the if-chain of
    plan.rs:1209-1400); None = shape is ignored (both or neither of
    datatypes and node classes, plan.rs:1224-1230,1380-1386). Annotation
    shapes carry no node classes, so they only reach datatype branches."""
    dts = sorted(shape.datatypes)
    nodes = tuple(getattr(shape, "nodes", ()) or ())
    if (dts and nodes) or (not dts and not nodes):
        return None
    if dts:
        if dts == [vocab.XSD_ANY_URI]:
            return "anyuri"
        if dts == _DATE_DTS:
            return "dates"
        if dts == [vocab.XSD_DURATION]:
            return "duration"
        if dts == [vocab.XSD_INTEGER]:
            return "integer"
        return "generic_dt"
    expected = [schema.target_class_of(n) for n in nodes]
    if expected == [vocab.SCHEMA_GEO_COORDINATES]:
        return "geo"
    if expected == [vocab.SCHEMA_QUANTITATIVE_VALUE]:
        return "quantity"
    if expected == [vocab.SCHEMA + "ImageObject"]:
        return "image"
    return "object"


def _sid_pairs_df(spark: SparkSession, pairs: list[tuple], schema_str: str
                  ) -> DataFrame:
    return F.broadcast(spark.createDataFrame(pairs, schema_str))


def _scan_with_sids(spark: SparkSession, st: StatementsTable,
                    sid_shapes: list[tuple[int, Shape]],
                    prefix: str) -> DataFrame:
    """One partition-pruned scan over every `{prefix}P{pid}` key of the
    branch, exploded to (sid, s, o) by the broadcast key→sid config.
    Every shape passed here has at least one from_properties PID."""
    # dedupe: a PID repeated inside one shape's from_properties (or a
    # config triple restated across merged files) must not multiply scan
    # rows into duplicate facts / double-counted sh:maxCount groups
    pairs = list(dict.fromkeys(
        (f"{_PREFIX_KEYS[prefix]}{pid}", sid)
        for sid, shape in sid_shapes
        for pid in shape.from_properties
    ))
    keys = sorted({k for k, _ in pairs})
    mapping = _sid_pairs_df(spark, pairs, "predicate_key string, sid int")
    return (
        st.stmt_scan(keys)
        .join(mapping, "predicate_key")
        .select("sid", "stmt_key",
                F.col("subject").alias("s"), F.col("object").alias("o"))
    )


def _branch_objects(
    spark: SparkSession,
    st: StatementsTable,
    branch: str,
    sid_shapes: list[tuple[int, Shape]],
    schema: Schema,
    shape_instances: DataFrame,
    uri_mapping: DataFrame,
    clean: CleanValues,
    prefixes: tuple[str, str],
) -> DataFrame:
    """(sid, stmt_key, object, sides) for all shapes of one branch.
    ``prefixes`` = (simple, complex) value prefixes: ("ps", "psv") for
    statement values, ("pq", "pqv") for qualifier values."""
    simple_prefix, complex_prefix = prefixes
    complex_tables = {
        "dates": (clean.times, False),
        "duration": (clean.durations, False),
        "integer": (clean.integers, False),
        "geo": (clean.coordinates, True),
        "quantity": (clean.quantities, True),
    }
    if branch in complex_tables:
        clean_df, has_sides = complex_tables[branch]
        j = _scan_with_sids(spark, st, sid_shapes, complex_prefix).select(
            "sid", "stmt_key", F.col("o.text").alias("node")
        ).join(clean_df, "node", "inner")
        if has_sides:
            return j.select("sid", "stmt_key", "object", "sides")
        return j.select("sid", "stmt_key", "object", no_sides().alias("sides"))

    scan = _scan_with_sids(spark, st, sid_shapes, simple_prefix)

    if branch == "anyuri":
        return (
            scan.where(F.col("o.kind") == "iri")
            .withColumn("url", normalize_url(F.col("o.text")))
            .where(F.col("url").isNotNull())
            .select(
                "sid", "stmt_key",
                typed_term(F.col("url"), F.lit(vocab.XSD_ANY_URI)).alias("object"),
                no_sides().alias("sides"),
            )
        )
    if branch == "image":
        return scan.where(
            (F.col("o.kind") == "iri")
            & F.col("o.text").startswith(vocab.COMMONS_FILEPATH_PREFIX)
        ).select(
            "sid", "stmt_key",
            F.col("o").alias("object"), no_sides().alias("sides"),
        )
    if branch == "generic_dt":
        dt_pairs = [
            (sid, dt) for sid, shape in sid_shapes
            for dt in sorted(set(shape.datatypes))
        ]
        allowed = _sid_pairs_df(spark, dt_pairs, "sid int, dt string")
        return (
            scan.withColumn("dt", datatype_of(F.col("o")))
            .join(allowed, ["sid", "dt"], "left_semi")
            .select(
                "sid", "stmt_key",
                F.col("o").alias("object"), no_sides().alias("sides"),
            )
        )

    # generic object-range branch: QID → YAGO URI, object must be an
    # instance of one of the shape's expected classes
    exp_pairs = []
    max_expected = 1
    for sid, shape in sid_shapes:
        expected = list(dict.fromkeys(
            schema.target_class_of(n) for n in shape.nodes
        ))
        max_expected = max(max_expected, len(expected))
        exp_pairs.extend((sid, cls) for cls in expected)
    sid_classes = _sid_pairs_df(spark, exp_pairs, "sid int, shape string")
    mapped = (
        scan.where(F.col("o.kind") == "item")
        .select("sid", "stmt_key", F.col("o.num").alias("qid"))
        .join(uri_mapping, "qid", "inner")
        .select("sid", "stmt_key", F.col("yago").alias("obj_uri"))
    )
    ok = mapped.join(sid_classes, "sid").join(
        shape_instances.withColumnRenamed("instance", "obj_uri"),
        ["obj_uri", "shape"],
        "left_semi",
    )
    if max_expected > 1:
        # an object allowed by several expected classes must emit once
        ok = ok.dropDuplicates(["sid", "stmt_key"])
    return ok.select(
        "sid", "stmt_key",
        iri_term(F.col("obj_uri")).alias("object"), no_sides().alias("sides"),
    )


def _dispatch(
    spark: SparkSession,
    st: StatementsTable,
    schema: Schema,
    sid_shapes: list[tuple[int, Shape]],
    shape_instances: DataFrame,
    uri_mapping: DataFrame,
    clean: CleanValues,
    prefixes: tuple[str, str],
) -> tuple[list[tuple[int, Shape]], DataFrame | None]:
    """Group (sid, shape) pairs by value branch and run each branch once.
    Returns the dispatched pairs (in sid order) and the union of their
    (sid, stmt_key, object, sides) frames — None when no shape with a
    source PID dispatches."""
    included: list[tuple[int, Shape]] = []
    branches: dict[str, list[tuple[int, Shape]]] = {}
    for sid, shape in sid_shapes:
        b = _dispatch_branch(schema, shape)
        if b is None or not shape.from_properties:
            continue
        included.append((sid, shape))
        branches.setdefault(b, []).append((sid, shape))
    if not included:
        return included, None
    frames = [
        _branch_objects(spark, st, b, pairs, schema, shape_instances,
                        uri_mapping, clean, prefixes)
        for b, pairs in branches.items()
    ]
    return included, reduce(DataFrame.unionByName, frames)


def _empty_frame(spark: SparkSession, **columns: DataType) -> DataFrame:
    """A zero-row frame with the given columns — what a config with
    nothing to dispatch yields instead of a crash."""
    return spark.createDataFrame([], StructType(
        [StructField(name, dtype) for name, dtype in columns.items()]))


def build_annotations(
    st: StatementsTable,
    schema: Schema,
    shape_instances: DataFrame,
    uri_mapping: DataFrame,
    clean: CleanValues,
) -> DataFrame:
    """(stmt_key, ann_predicate term, ann_object term, ann_sides) from the
    annotation property shapes over pq:/pqv: (plan.rs:1034-1064), through
    the same branch dispatch as the facts; ``sid`` indexes
    ``schema.annotation_shapes``. Empty when no annotation shape
    dispatches."""
    spark = st.spark
    included, objects = _dispatch(
        spark, st, schema, list(enumerate(schema.annotation_shapes)),
        shape_instances, uri_mapping, clean, ("pq", "pqv"),
    )
    if objects is None:
        return _empty_frame(
            spark, stmt_key=StringType(), ann_predicate=TERM_SCHEMA,
            ann_object=TERM_SCHEMA, ann_sides=DataType.fromDDL(_EMPTY_SIDES),
        )
    paths = _sid_pairs_df(
        spark, [(sid, a.path) for sid, a in included], "sid int, path string"
    )
    return objects.join(paths, "sid").select(
        "stmt_key",
        iri_term(F.col("path")).alias("ann_predicate"),
        F.col("object").alias("ann_object"),
        F.col("sides").alias("ann_sides"),
    )


def build_facts(
    spark: SparkSession,
    st: StatementsTable,
    schema: Schema,
    shape_instances: DataFrame,
    uri_mapping: DataFrame,
    exclude_properties: tuple[str, ...] = (),
) -> FactsResult:
    clean = build_clean_values(st, uri_mapping)
    best = best_rank_statements(st).persist()
    annotations = build_annotations(
        st, schema, shape_instances, uri_mapping, clean
    ).persist()
    shape_instances = shape_instances.persist()

    included, objects = _dispatch(
        spark, st, schema,
        [(sid, s) for sid, s in enumerate(schema.property_shapes)
         if s.path not in exclude_properties],
        shape_instances, uri_mapping, clean, ("ps", "psv"),
    )
    if objects is None:
        # e.g. a config whose property shapes are all from_predicates-only
        # (labels output) or all excluded — emit empty frames, not a crash
        t = TERM_SCHEMA
        return FactsResult(
            facts=_empty_frame(spark, subject=t, predicate=t, object=t),
            annotated=_empty_frame(
                spark, subject=t, predicate=t, object=t,
                annotation_predicate=t, annotation_object=t,
            ),
        )

    # shared subject side: ONE p:P{...} scan for every included shape,
    # best-rank gated, URI-mapped, domain-checked against the shape's
    # parent class (plan.rs:1076-1108)
    subj = (
        _scan_with_sids(spark, st, included, "p")
        .where(F.col("s.kind") == "item")
        .select("sid", F.col("s.num").alias("qid"), "stmt_key")
        .join(best, "stmt_key", "left_semi")
        .join(uri_mapping, "qid", "inner")
        .select("sid", "stmt_key", F.col("yago").alias("subj_uri"))
    )
    parents = _sid_pairs_df(
        spark, [(sid, s.parent_shape) for sid, s in included],
        "sid int, shape string",
    )
    subj = (
        subj.join(parents, "sid")
        .join(
            shape_instances.withColumnRenamed("instance", "subj_uri"),
            ["subj_uri", "shape"],
            "left_semi",
        )
    )

    # sh:pattern (plan.rs:1127-1139): literal-string regex per shape
    pat_pairs = [(sid, s.pattern) for sid, s in included if s.pattern]
    if pat_pairs:
        pats = _sid_pairs_df(spark, pat_pairs, "sid int, pat string")
        objects = objects.join(pats, "sid", "left").where(
            F.col("pat").isNull()
            | ((F.col("object.kind") == "string")
               & F.regexp_like(F.col("object.text"), F.col("pat")))
        ).drop("pat")

    all_facts = subj.join(objects, ["sid", "stmt_key"], "inner")

    # sh:maxCount (plan.rs:1141-1163): drop the WHOLE (shape, subject)
    # group when it exceeds the cap — one window over (sid, subj_uri)
    # for every capped shape at once
    mc_pairs = [(sid, s.max_count) for sid, s in included
                if s.max_count is not None]
    if mc_pairs:
        from pyspark.sql.window import Window

        mcs = _sid_pairs_df(spark, mc_pairs, "sid int, mc int")
        w = Window.partitionBy("sid", "subj_uri")
        all_facts = (
            all_facts.withColumn("_cnt", F.count(F.lit(1)).over(w))
            .join(mcs, "sid", "left")
            .where(F.col("mc").isNull() | (F.col("_cnt") <= F.col("mc")))
            .drop("_cnt", "mc")
        )

    paths = _sid_pairs_df(
        spark, [(sid, s.path) for sid, s in included], "sid int, path string"
    )
    all_facts = all_facts.join(paths, "sid").select(
        "stmt_key", "subj_uri", "path", "object", "sides"
    )
    all_facts = all_facts.persist()

    main = all_facts.select(
        iri_term(F.col("subj_uri")).alias("subject"),
        iri_term(F.col("path")).alias("predicate"),
        F.col("object"),
    )
    sides = (
        all_facts.where(F.col("sides").isNotNull())
        .select(F.explode(F.col("sides")).alias("t"))
        .select("t.subject", "t.predicate", "t.object")
    )
    facts = main.unionByName(sides)

    ann_joined = all_facts.join(annotations, "stmt_key", "inner")
    annotated_main = ann_joined.select(
        iri_term(F.col("subj_uri")).alias("subject"),
        iri_term(F.col("path")).alias("predicate"),
        F.col("object"),
        F.col("ann_predicate").alias("annotation_predicate"),
        F.col("ann_object").alias("annotation_object"),
    )
    ann_sides = (
        ann_joined.where(F.col("ann_sides").isNotNull())
        .select(F.explode(F.col("ann_sides")).alias("t"))
        .select(
            "t.subject", "t.predicate", "t.object",
            F.lit(None).cast(annotated_main.schema["annotation_predicate"].dataType)
            .alias("annotation_predicate"),
            F.lit(None).cast(annotated_main.schema["annotation_object"].dataType)
            .alias("annotation_object"),
        )
    )
    annotated = annotated_main.unionByName(ann_sides)
    return FactsResult(facts=facts, annotated=annotated)
