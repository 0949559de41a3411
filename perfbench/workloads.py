"""The benchmark's workloads: seeded inputs, one run, and the output checks.

Inputs are made from the seed alone and cached on disk by workload and
seed; the program only ever sees the generated files.

``kg_build`` is the paper's pipeline as the CLI runs it, ``partition`` then
``build``: one gzip N-Triples dump (the shape of the Wikidata dump) is
parsed into the predicate-partitioned statements store, and
``run_pipeline`` turns the store into the nine N-Triples families.

``doc_curation`` is the training-data front end: exact dedup, MinHash LSH
pairs, duplicate clusters, embedding near-duplicate pairs and entity
linking over a seeded corpus with planted exact copies and planted
near-identical embedding pairs. It runs no ``plans/*`` code, so it is the
control for every ``kg_build`` optimization and the reverse.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import inspect
import json
import os
from pathlib import Path

import numpy as np

# A kg_build run's cost is set by its ~450 Spark jobs, not by its rows, so
# the dump is kept small; KG_CLASSES stays just above the 46 special
# classes the generator plants, since every extra level of class depth
# adds closure iterations.
KG_ENTITIES, KG_CLASSES = 400, 50
DOC_DOCS, DOC_VECS = 400, 400


def no_span(layer: str):
    return contextlib.nullcontext()


def _digest(lines) -> tuple[int, str]:
    """(row count, order-independent hash) of an output."""
    lines = sorted(lines)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _atomic_write(path: Path, write) -> None:
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    write(tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------

# Predicate IRIs of the generator's flat ``pk`` keys, as
# fixtures_large.statements_df assembles them.
_PROP_PREFIX = {
    "wdt": "http://www.wikidata.org/prop/direct/P",
    "p": "http://www.wikidata.org/prop/P",
    "ps": "http://www.wikidata.org/prop/statement/P",
    "psv": "http://www.wikidata.org/prop/statement/value/P",
    "pq": "http://www.wikidata.org/prop/qualifier/P",
    "pqv": "http://www.wikidata.org/prop/qualifier/value/P",
}


def _iri_keys() -> dict[str, str]:
    from yago4_spark import vocab

    return {
        "rdf:type": vocab.RDF_TYPE,
        "skos:prefLabel": vocab.SKOS_PREF_LABEL,
        "skos:altLabel": vocab.SKOS_ALT_LABEL,
        "schema:description": vocab.SCHEMA_DESCRIPTION,
        "schema:about": vocab.SCHEMA_ABOUT,
        "wikibase:timeValue": vocab.WIKIBASE_TIME_VALUE,
        "wikibase:timePrecision": vocab.WIKIBASE_TIME_PRECISION,
        "wikibase:timeCalendarModel": vocab.WIKIBASE_TIME_CALENDAR_MODEL,
        "wikibase:geoLatitude": vocab.WIKIBASE_GEO_LATITUDE,
        "wikibase:geoLongitude": vocab.WIKIBASE_GEO_LONGITUDE,
        "wikibase:geoPrecision": vocab.WIKIBASE_GEO_PRECISION,
        "wikibase:geoGlobe": vocab.WIKIBASE_GEO_GLOBE,
        "wikibase:quantityAmount": vocab.WIKIBASE_QUANTITY_AMOUNT,
        "wikibase:quantityUnit": vocab.WIKIBASE_QUANTITY_UNIT,
        "wikibase:quantityLowerBound": vocab.WIKIBASE_QUANTITY_LOWER_BOUND,
        "wikibase:quantityUpperBound": vocab.WIKIBASE_QUANTITY_UPPER_BOUND,
    }


def _nan_to_none(v):
    return None if v is None or (isinstance(v, float) and v != v) else v


def dump_lines(gt):
    """N-Triples lines of the generator's statements, without Spark, so
    making the input warms nothing the timed runs use. The first run's
    check compares the ingested store with ``statements_df(gt)``."""
    from yago4_spark.terms import term_to_nt_py

    iri_keys = _iri_keys()

    def term(kind, text, num, lang=None, dbl=None):
        if kind == "blank":
            text = "_:" + text
        return term_to_nt_py({"kind": kind, "text": text, "num": num,
                              "dbl": dbl, "lang": lang, "datatype": None})

    for r in gt.statements.itertuples(index=False):
        short, _, local = r.pk.partition(":")
        if short in _PROP_PREFIX and local[:1] == "P" and local[1:].isdigit():
            p = term_to_nt_py({"kind": "prop", "text": _PROP_PREFIX[short],
                               "num": int(local[1:])})
        else:
            p = term_to_nt_py({"kind": "iri", "text": iri_keys[r.pk]})
        s = term(r.s_kind, _nan_to_none(r.s_text), _nan_to_none(r.s_num))
        o = term(r.o_kind, _nan_to_none(r.o_text), _nan_to_none(r.o_num),
                 _nan_to_none(r.o_lang), _nan_to_none(r.o_dbl))
        yield f"{s} {p} {o} ."


class KgBuild:
    """CLI ``partition`` + ``build``: dump → statements store → KG."""

    name = "kg_build"

    def __init__(self, cache: Path, seed: int):
        import warnings

        from yago4_spark.fixtures_large import generate

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            self.gt = generate(n_entities=KG_ENTITIES, n_classes=KG_CLASSES,
                               seed=seed)
        self.dump = cache / f"kg_build-seed{seed}.nt.gz"
        if not self.dump.exists():
            def write(tmp):
                with open(tmp, "wb") as raw, gzip.GzipFile(
                        fileobj=raw, mode="wb", mtime=0) as gz:
                    for line in dump_lines(self.gt):
                        gz.write(line.encode("utf-8") + b"\n")
            _atomic_write(self.dump, write)
        self.result = None

    def _ingest(self, spark, store: Path, span) -> None:
        from yago4_spark.sources.ntriples import read_ntriples
        from yago4_spark.sources.statements import StatementsTable

        with span("ntriples.parse"):
            df = read_ntriples(spark, str(self.dump))
            if span is not no_span:
                # traced run only: parse in a job of its own, so the Arrow
                # parse kernel counts here and not in the store write
                df = df.persist()
                df.count()
        with span("statements.write"):
            StatementsTable.write(df, str(store))

    def run(self, spark, run_dir: Path, span=no_span) -> None:
        from yago4_spark.pipeline import run_pipeline

        self._ingest(spark, run_dir / "statements", span)
        self.result = run_pipeline(
            spark, str(run_dir / "statements"), str(run_dir / "work"),
            self.gt.schema, export_nt_dir=str(run_dir / "nt"))

    def digest(self, spark, run_dir: Path) -> dict[str, tuple[int, str]]:
        """Row count and hash of the store and of every output family;
        each family's N-Triples export must hash like the family."""
        from pyspark.sql import functions as F

        from yago4_spark.pipeline import OUTPUTS
        from yago4_spark.sources.ntriples import triples_to_nt_lines

        tables = {"statements": spark.read.parquet(str(run_dir / "statements")),
                  **self.result.outputs}
        lines: dict[str, list[str]] = {name: [] for name in tables}
        union = None
        for name, df in tables.items():
            tagged = triples_to_nt_lines(df).select(F.lit(name).alias("t"), "value")
            union = tagged if union is None else union.unionByName(tagged)
        for r in union.collect():  # one job for the store and all 9 families
            lines[r[0]].append(r[1])
        out = {name: _digest(v) for name, v in lines.items()}
        for name in OUTPUTS:
            export = []
            for part in sorted((run_dir / "nt" / f"yago-wd-{name}.nt.gz").glob("part-*")):
                with gzip.open(part, "rt", encoding="utf-8") as f:
                    export.extend(line.rstrip("\n") for line in f)
            out[f"export:{name}"] = _digest(export)
        return out

    def check_digest(self, d: dict) -> list[str]:
        from yago4_spark.pipeline import OUTPUTS

        return [f"export of {n} differs from the family"
                for n in OUTPUTS if d[f"export:{n}"] != d[n]]

    def check_first(self, spark, run_dir: Path, d: dict) -> list[str]:
        """The store equals ``statements_df(gt)`` and every family equals
        the pure-Python oracle, as tests/test_differential_large.py
        compares them."""
        from yago4_spark import terms
        from yago4_spark.fixtures_large import compute_oracle, statements_df
        from yago4_spark.sources.ntriples import triples_to_nt_lines

        errors = []
        want = _digest(r[0] for r in triples_to_nt_lines(
            statements_df(spark, self.gt)).collect())
        if d["statements"] != want:
            errors.append(f"statements store {d['statements'][0]} rows, "
                          f"generator {want[0]}, or hashes differ")
        o = compute_oracle(self.gt)
        cat = self.result.catalog
        outs = self.result.outputs

        def nt(t):
            return terms.term_to_nt_py(t.asDict())

        def spo(df, preds=None):
            return {(r["subject"]["text"], r["predicate"]["text"], nt(r["object"]))
                    for r in df.collect()
                    if preds is None or r["predicate"]["text"] in preds}

        got_inst: dict[str, set] = {}
        for r in cat.read("shape_instances").collect():
            got_inst.setdefault(r["shape"], set()).add(r["instance"])
        annotated = {
            (r["subject"]["text"], r["predicate"]["text"], nt(r["object"]),
             r["annotation_predicate"]["text"], nt(r["annotation_object"]))
            for r in outs["annotated_facts"].collect()
            if r["annotation_predicate"] is not None}
        checks = [
            ("uri_mapping", {r["qid"]: r["yago"]
                             for r in cat.read("uri_mapping").collect()}, o.uri),
            ("yago_classes", {r["cls"] for r in cat.read("yago_classes").collect()},
             o.yago_classes),
            ("class_mapping", {(r["qid"], r["cls"])
                               for r in cat.read("class_mapping").collect()},
             o.class_mapping),
            ("sub_class_of", {(r["child"], r["parent"])
                              for r in cat.read("sub_class_of").collect()},
             o.sub_class_of),
            ("shape_instances", {s: got_inst.get(s, set()) for s in o.instances},
             o.instances),
            ("facts", spo(outs["facts"], {p for _, p, _ in o.facts}), o.facts),
            ("annotated_facts", annotated, o.annotated),
            ("classes", spo(outs["classes"]), o.classes_out),
            ("simple_types", spo(outs["simple_types"]), o.simple_types),
            ("full_types", spo(outs["full_types"]), o.full_types),
            ("labels", spo(outs["labels"]), o.labels_out),
            ("same_as", spo(outs["same_as"]), o.same_as),
        ]
        errors += [f"{name} differs from the oracle"
                   for name, got, want in checks if got != want]
        return errors

    def named_counters(self, spark, run_dir: Path) -> dict[str, float]:
        return {
            "statements.write.output_mb": _dir_mb(run_dir / "statements"),
            "ntriples.export.output_mb": _dir_mb(run_dir / "nt"),
        }

    def traced_targets(self, tracer):
        from .spans import pipeline_targets

        return pipeline_targets(tracer)


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


# ---------------------------------------------------------------------------
# doc_curation
# ---------------------------------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "da", "fe",
              "gu", "ha", "ji", "ko", "lu", "ma", "no", "pi", "re", "su")


def _words(rng, n: int, parts: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES, parts)))
    return sorted(words)


class DocCuration:
    """Exact dedup → MinHash LSH → clusters → embedding near-dups →
    entity linking, each output written to the run directory."""

    name = "doc_curation"
    DIM = 64
    THRESHOLD = 0.999
    N_CELLS = 8
    OUT = ("exact", "minhash", "clusters", "near_dup", "linked")

    def __init__(self, cache: Path, seed: int):
        base = cache / f"doc_curation-seed{seed}"
        self.docs_path = base / "documents.parquet"
        self.emb_path = base / "embeddings.parquet"
        self.dict_path = base / "dictionary.parquet"
        planted_path = base / "planted.json"
        if not planted_path.exists():
            base.mkdir(parents=True, exist_ok=True)
            planted = self._generate(seed, DOC_DOCS, DOC_VECS)
            _atomic_write(planted_path,
                          lambda tmp: tmp.write_text(json.dumps(planted)))
        planted = json.loads(planted_path.read_text())
        self.exact_groups = planted["exact_groups"]
        self.emb_pairs = {tuple(p) for p in planted["emb_pairs"]}

    def _generate(self, seed: int, n_docs: int, n_vecs: int) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        vocab = _words(np.random.default_rng(0), 4000, 3)
        names = _words(np.random.default_rng(1), 200, 2)
        # dictionary: 1-3 word capitalised surfaces; every 5th surface is
        # ambiguous (a second qid at a lower score)
        entries = []
        for i in range(150):
            k = 1 + i % 3
            surface = " ".join(n.capitalize() for n in
                               rng.choice(names, k, replace=False))
            entries.append((surface, 10_000 + i, round(0.5 + 0.5 * rng.random(), 3)))
            if i % 5 == 0:
                entries.append((surface, 20_000 + i, 0.4))
        surfaces = sorted({e[0] for e in entries})

        texts = []
        for _ in range(n_docs):
            toks = list(rng.choice(vocab, int(rng.integers(30, 90))))
            for _ in range(int(rng.integers(0, 4))):
                s = surfaces[int(rng.integers(0, len(surfaces)))]
                if rng.random() < 0.3:
                    s = s.lower()
                toks.insert(int(rng.integers(0, len(toks) + 1)), s)
            texts.append(" ".join(toks))
        groups: list[list[int]] = []
        for i in rng.choice(n_docs, n_docs // 12, replace=False):
            copies = []
            for c in range(int(rng.integers(1, 4))):
                # whitespace/case variants normalise to the same fingerprint
                texts.append(texts[i] + " " if c % 2 else texts[i].upper())
                copies.append(len(texts) - 1)
            groups.append([int(i), *copies])
        for i in rng.choice(n_docs, n_docs // 12, replace=False):
            toks = texts[i].split(" ")
            swap = vocab[int(rng.integers(0, len(vocab)))]
            toks[int(rng.integers(0, len(toks)))] = swap
            texts.append(" ".join(toks))
        order = rng.permutation(len(texts))
        ids = [""] * len(texts)
        for pos, i in enumerate(order):
            ids[i] = f"d{pos:07d}"
        pq.write_table(pa.table({"doc_id": [ids[i] for i in order],
                                 "text": [texts[i] for i in order]}),
                       self.docs_path)

        vecs = rng.standard_normal((n_vecs, self.DIM)).astype(np.float32)
        picked = rng.choice(n_vecs, n_vecs // 20, replace=False)
        nudged = vecs[picked].copy()
        nudged[:, 0] += np.float32(1e-5)
        all_vecs = np.concatenate([vecs, nudged])
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(all_vecs)), pa.int64()),
            "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
        }), self.emb_path)
        pq.write_table(pa.table({
            "surface": [e[0] for e in entries],
            "qid": pa.array([e[1] for e in entries], pa.int64()),
            "score": [e[2] for e in entries],
        }), self.dict_path)
        return {
            "exact_groups": [sorted(ids[i] for i in g) for g in groups],
            "emb_pairs": [[int(i), n_vecs + j] for j, i in enumerate(picked)],
        }

    def _inputs(self, spark):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(str(self.docs_path))
        spans = docs.select("doc_id", F.lit(0).alias("span_idx"),
                            F.lit(0).alias("offset"), "text")
        return (docs, spans, spark.read.parquet(str(self.emb_path)),
                spark.read.parquet(str(self.dict_path)))

    def run(self, spark, run_dir: Path, span=no_span) -> None:
        from yago4_spark.operators.dedup import (dup_clusters,
                                                 exact_dedup_canonical,
                                                 minhash_lsh_pairs)
        from yago4_spark.operators.linking import (candidate_mentions,
                                                   link_entities)
        from yago4_spark.operators.similarity import embedding_near_dup_pairs

        docs, spans, emb, dic = self._inputs(spark)

        def out(name):
            return str(run_dir / name)

        with span("dedup.exact"):
            exact_dedup_canonical(docs).write.parquet(out("exact"))
        with span("dedup.minhash"):
            minhash_lsh_pairs(docs, num_hashes=16, bands=4).write.parquet(
                out("minhash"))
        with span("dedup.clusters"):
            dup_clusters(spark.read.parquet(out("minhash"))).write.parquet(
                out("clusters"))
        with span("similarity.near_dup"):
            embedding_near_dup_pairs(emb, threshold=self.THRESHOLD,
                                     n_cells=self.N_CELLS).write.parquet(
                out("near_dup"))
        with span("linking"):
            link_entities(candidate_mentions(spans, dic)).write.parquet(
                out("linked"))

    def digest(self, spark, run_dir: Path) -> dict[str, tuple[int, str]]:
        return {name: _digest(repr(tuple(r)) for r in
                              spark.read.parquet(str(run_dir / name)).collect())
                for name in self.OUT}

    def check_digest(self, d: dict) -> list[str]:
        return []

    def check_first(self, spark, run_dir: Path, d: dict) -> list[str]:
        errors = []
        canon = {r["doc_id"]: r["canonical"] for r in
                 spark.read.parquet(str(run_dir / "exact")).collect()}
        ungrouped = [g for g in self.exact_groups
                     if any(i not in canon for i in g)
                     or len({canon[i] for i in g}) != 1]
        if ungrouped:
            errors.append(f"{len(ungrouped)} planted exact groups not grouped")
        pairs = {(r["id_a"], r["id_b"]) for r in
                 spark.read.parquet(str(run_dir / "near_dup")).collect()}
        missed = self.emb_pairs - pairs
        if missed:
            errors.append(f"{len(missed)} planted embedding pairs not emitted")
        return errors

    def named_counters(self, spark, run_dir: Path) -> dict[str, float]:
        """Counts that need extra jobs, run after the traced run: verified
        candidate pairs are recounted from the operator's own blocking
        (IVF cell, then id-hash block past ``max_cell_size``)."""
        from pyspark.sql import functions as F

        from yago4_spark.operators.linking import candidate_mentions
        from yago4_spark.operators.similarity import (assign_cells,
                                                      embedding_near_dup_pairs,
                                                      kmeans_centroids)

        docs, spans, emb, dic = self._inputs(spark)
        cap = inspect.signature(embedding_near_dup_pairs).parameters[
            "max_cell_size"].default
        assigned = assign_cells(emb, kmeans_centroids(emb, self.N_CELLS),
                                "vec_id", "embedding")
        counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
        n_blocks = F.greatest(F.lit(1).cast("long"),
                              F.ceil(F.col("_n") / F.lit(cap)).cast("long"))
        blocks = (assigned.join(counts, "cell")
                  .withColumn("block", F.pmod(
                      F.xxhash64(F.col("vec_id").cast("string")), n_blocks))
                  .groupBy("cell", "block").count())
        verified = sum(r["count"] * (r["count"] - 1) // 2
                       for r in blocks.collect())

        def rows(name):
            return spark.read.parquet(str(run_dir / name)).count()

        candidates = candidate_mentions(spans, dic).count()
        return {
            "dedup.minhash.pairs": rows("minhash"),
            "similarity.near_dup.useful_ratio": rows("near_dup") / max(1, verified),
            "linking.link_ratio": rows("linked") / max(1, candidates),
        }

    def traced_targets(self, tracer):
        return []


WORKLOADS = {w.name: w for w in (KgBuild, DocCuration)}
