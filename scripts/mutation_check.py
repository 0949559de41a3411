"""Oracle sensitivity (mutation) testing for the pipeline differential
(VERDICT r03 item 1).

The volume differential's remaining credibility gap is that oracle and
pipeline share an author. This script measures the differential's POWER:
it plants single-point mutations in the Spark plans — each a realistic
bug (a dropped semi-join, an off-by-one threshold, a swapped priority, a
lat/lon swap inside a pandas UDF, ...) — and asserts the 12-family
differential KILLS every one (some family's P or R < 1.0, or the
pipeline fails outright). A surviving mutant is a real oracle blind
spot.

Mechanics: the package is COPIED to a temp dir; each mutation is a
unique-match textual edit applied to the copy; the pipeline then runs in
a fresh subprocess with the copy first on PYTHONPATH (get_spark
propagates it to executor Python workers, so executor-side pandas-UDF
mutations take effect too) against statements + oracle precomputed ONCE
by the unmutated parent. The repo tree is never modified.

Usage:
    python scripts/mutation_check.py [n_entities] [n_classes]
    # default 100_000 / 800 — the r3 differential volume

Appends the kill matrix to BASELINE_RESULTS.md and prints a JSON
summary line.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = Path(__file__).resolve().parent.parent

# Each mutation: unique old→new textual edit in ONE file of the package
# copy. `expect` documents which family SHOULD move (informational; the
# kill criterion is any-family P/R < 1 or pipeline error).
MUTATIONS = [
    dict(
        name="drop_best_rank_semi",
        file="yago4_spark/plans/facts.py",
        old='        .join(best, "stmt_key", "left_semi")\n',
        new="",
        expect="facts (non-best-rank statements leak in)",
    ),
    dict(
        name="min_instances_off_by_one",
        file="yago4_spark/operators/relational.py",
        old='F.col("count") >= min_instances',
        new='F.col("count") > min_instances',
        expect="yago_classes / class_mapping (threshold classes drop)",
    ),
    dict(
        name="skip_disjoint_instance_removal",
        file="yago4_spark/plans/instances.py",
        old='        inst_uri = inst_uri.join(removed.distinct(), "instance", "left_anti")\n',
        new="        pass\n",
        expect="shape_instances (disjoint members survive)",
    ),
    dict(
        name="uri_priority_swapped",
        file="yago4_spark/plans/uri_mapping.py",
        old='        [from_schema, from_wikipedia, from_label, fallback], key="qid"',
        new='        [from_schema, from_label, from_wikipedia, fallback], key="qid"',
        expect="uri_mapping (label-URI beats sitelink-URI — subtle swap,"
               " unlike a full reversal which crashes the pipeline)",
    ),
    dict(
        name="drop_maxcount_group_kill",
        file="yago4_spark/plans/facts.py",
        old='            .where(F.col("mc").isNull() | (F.col("_cnt") <= F.col("mc")))',
        new='            .where(F.col("mc").isNull() | (F.col("_cnt") >= 0))',
        expect="facts (over-cap groups leak)",
    ),
    dict(
        name="drop_dates_dispatch_branch",
        file="yago4_spark/plans/facts.py",
        old='        if dts == _DATE_DTS:\n            return "dates"',
        new="        if dts == _DATE_DTS:\n            return None",
        expect="facts (date facts vanish)",
    ),
    dict(
        name="break_percent_decode",
        file="yago4_spark/plans/uri_mapping.py",
        old="            decode_then_encode_iri_path(",
        new="            encode_iri_path(",
        expect="uri_mapping (escaped enwiki titles double-encode)",
    ),
    dict(
        name="skip_bad_class_exclusion",
        file="yago4_spark/plans/taxonomy.py",
        old='        .join(bad, "node", "left_anti")\n',
        new="",
        expect="yago_classes (bad subtrees kept)",
    ),
    dict(
        name="shape_subtree_self_only",
        file="yago4_spark/plans/instances.py",
        old="    shape_subtree = transitive_closure_pair(shape_seeds, down)",
        new="    shape_subtree = shape_seeds",
        expect="shape_instances (descendant-class instances lost)",
    ),
    dict(
        name="geo_latlon_swap",
        file="yago4_spark/functions/values.py",
        old='        out.append(f"geo:{format_f64(rla)},{format_f64(rlo)}")',
        new='        out.append(f"geo:{format_f64(rlo)},{format_f64(rla)}")',
        expect="facts (geo branch; executor-side pandas UDF)",
    ),
    dict(
        name="langstring_lang_constant",
        file="yago4_spark/terms.py",
        old="""        return f'"{escape_nt_py(term["text"])}"@{term["lang"]}'""",
        new="""        return f'"{escape_nt_py(term["text"])}"@en'""",
        expect="labels (non-en language tags lost in serialization)",
    ),
    dict(
        name="drop_annotations",
        file="yago4_spark/plans/facts.py",
        old="    annotations = build_annotations(\n"
            "        st, schema, shape_instances, uri_mapping, clean\n"
            "    ).persist()",
        new="    annotations = build_annotations(\n"
            "        st, schema, shape_instances, uri_mapping, clean\n"
            "    ).where(F.lit(False)).persist()",
        expect="annotated_facts (RDF★ empty)",
    ),
    dict(
        name="label_lang_filter_inverted",
        file="yago4_spark/plans/uri_mapping.py",
        old='            & (F.col("object.lang") == "en")',
        new='            & (F.col("object.lang") != "en")',
        expect="uri_mapping (label-priority URIs use wrong language)",
    ),
    dict(
        name="labels_datatype_filter_dropped",
        file="yago4_spark/plans/outputs.py",
        old="        scan = scan.where(datatype_of(F.col(\"o\")).isin(list(shape.datatypes)))",
        new="        scan = scan",
        expect="labels (wrong-datatype values leak)",
    ),
    dict(
        name="skip_most_specific_filter",
        file="yago4_spark/plans/taxonomy.py",
        old="    return mapping.join(redundant, [key, value], \"left_anti\")",
        new="    return mapping",
        expect="class_mapping (redundant superclass mappings kept)",
    ),
    dict(
        name="skip_transitive_reduction",
        file="yago4_spark/plans/taxonomy.py",
        old="    sub_class_of = transitive_reduction_step(sub_class_of_full).persist()",
        new="    sub_class_of = sub_class_of_full.persist()",
        expect="sub_class_of (redundant transitive edges kept)",
    ),
    dict(
        name="mapped_subtree_roots_only",
        file="yago4_spark/plans/taxonomy.py",
        old='    mapped_subtree = desc.select("node")',
        new='    mapped_subtree = desc.where(F.col("key") == F.col("node")).select("node")',
        expect="yago_classes (mapped classes' descendants lost)",
    ),
]

_WORKER = '''\
import json
import os
import pickle
import sys

pkg, stmts, oracle_pkl, out_json, work = sys.argv[1:6]
sys.path.insert(0, pkg)
os.environ["PYTHONPATH"] = pkg + os.pathsep + os.environ.get("PYTHONPATH", "")

from yago4_spark.pipeline import run_pipeline
from yago4_spark.plans.shapes import sample_schema
from yago4_spark.session import get_spark

spark = get_spark(app_name="mutation-worker")
spark.sparkContext.setLogLevel("ERROR")
with open(oracle_pkl, "rb") as f:
    oracle = pickle.load(f)
res = run_pipeline(spark, stmts, work, sample_schema(10))
for df in res.outputs.values():
    df.count()

from scripts.differential_report import collect_family_rows

rows = collect_family_rows(res, oracle)
with open(out_json, "w") as f:
    json.dump([[n, p, r, c] for n, p, r, c in rows], f)
spark.stop()
'''


def run_worker(base: Path, name: str, timeout: int = 1800) -> list | str:
    """Returns family rows, or an error-string if the pipeline died
    (which also counts as the mutation being caught)."""
    out_json = base / f"rows_{name}.json"
    work = base / f"work_{name}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        # cwd MUST be outside the repo: pyspark's worker daemon puts the
        # process cwd at sys.path[0], which would shadow the mutated
        # package copy on executors (found when geo_latlon_swap — the
        # one executor-side mutant — silently survived)
        proc = subprocess.run(
            [sys.executable, str(base / "worker.py"), str(base / "pkg"),
             str(base / "statements"), str(base / "oracle.pkl"),
             str(out_json), str(work)],
            capture_output=True, text=True, timeout=timeout, cwd=str(base),
        )
    except subprocess.TimeoutExpired:
        return "TIMEOUT"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        tail = "\n".join(proc.stderr.strip().split("\n")[-5:])
        return f"ERROR rc={proc.returncode}: {tail[-400:]}"
    with open(out_json) as f:
        return json.load(f)


def main() -> int:
    from yago4_spark.fixtures_large import (compute_oracle, generate,
                                            statements_df)
    from yago4_spark.session import get_spark
    from yago4_spark.sources.statements import StatementsTable

    n_ent = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_cls = int(sys.argv[2]) if len(sys.argv) > 2 else 800
    base = Path("/tmp/mutation_check")
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)

    print(f"[gen] {n_ent:,} entities / {n_cls} classes", flush=True)
    t0 = time.time()
    gt = generate(n_entities=n_ent, n_classes=n_cls)
    oracle = compute_oracle(gt)
    with open(base / "oracle.pkl", "wb") as f:
        pickle.dump(oracle, f)
    spark = get_spark(app_name="mutation-gen")
    spark.sparkContext.setLogLevel("ERROR")
    StatementsTable.write(statements_df(spark, gt), str(base / "statements"))
    spark.stop()
    print(f"[gen] done in {time.time() - t0:.0f}s", flush=True)

    # pristine package copy + worker
    shutil.copytree(REPO / "yago4_spark", base / "pkg" / "yago4_spark")
    shutil.copytree(REPO / "scripts", base / "pkg" / "scripts")
    (base / "worker.py").write_text(_WORKER)

    t0 = time.time()
    rows = run_worker(base, "baseline")
    assert not isinstance(rows, str), f"baseline run failed: {rows}"
    bad = [r for r in rows if r[1] < 1.0 or r[2] < 1.0]
    assert not bad, f"baseline differential not clean: {bad}"
    print(f"[baseline] 12/12 exact in {time.time() - t0:.0f}s", flush=True)

    results = []
    for m in MUTATIONS:
        target = base / "pkg" / m["file"]
        src = target.read_text()
        n_hits = src.count(m["old"])
        assert n_hits == 1, f"{m['name']}: {n_hits} matches for old text"
        t0 = time.time()
        target.write_text(src.replace(m["old"], m["new"]))
        try:
            out = run_worker(base, m["name"])
        finally:
            target.write_text(src)
        if isinstance(out, str):
            results.append((m, "pipeline-failed", out, time.time() - t0))
            print(f"[{m['name']}] KILLED (crash) {out[:90]}", flush=True)
            continue
        moved = [(n, p, r) for n, p, r, _ in out if p < 1.0 or r < 1.0]
        if moved:
            results.append((m, "killed", moved, time.time() - t0))
            worst = min(moved, key=lambda x: min(x[1], x[2]))
            print(f"[{m['name']}] KILLED by {len(moved)} families; "
                  f"worst {worst[0]} P={worst[1]:.4f} R={worst[2]:.4f} "
                  f"({time.time() - t0:.0f}s)", flush=True)
        else:
            results.append((m, "SURVIVED", [], time.time() - t0))
            print(f"[{m['name']}] *** SURVIVED *** — oracle blind spot",
                  flush=True)

    killed = sum(1 for _, v, _, _ in results if v != "SURVIVED")
    lines = [
        "",
        f"## Mutation kill matrix at {n_ent:,} entities "
        "(scripts/mutation_check.py)",
        "",
        "Single-point mutations planted in a COPY of the Spark plans; "
        "each must be caught by the 12-family differential (any P/R < "
        "1.0) or fail the pipeline. A surviving mutant is an oracle "
        "blind spot.",
        "",
        f"**{killed}/{len(results)} mutants killed.**",
        "",
        "| mutation | planted in | outcome | families moved (worst P/R) |",
        "|---|---|---|---|",
    ]
    for m, verdict, detail, dt in results:
        if verdict == "pipeline-failed":
            outcome = "killed (pipeline error)"
            fams = str(detail)[:80].replace("|", "/")
        elif verdict == "killed":
            outcome = "killed"
            fams = "; ".join(
                f"{n} P={p:.3f}/R={r:.3f}" for n, p, r in detail[:3])
            if len(detail) > 3:
                fams += f" (+{len(detail) - 3} more)"
        else:
            outcome = "**SURVIVED**"
            fams = "—"
        lines.append(f"| {m['name']} | `{m['file']}` | {outcome} | {fams} |")
    lines.append("")
    report = "\n".join(lines) + "\n"
    print(report)
    with open(REPO / "BASELINE_RESULTS.md", "a") as f:
        f.write(report)
    print(json.dumps({"mutants": len(results), "killed": killed,
                      "survived": [m["name"] for m, v, _, _ in results
                                   if v == "SURVIVED"]}))
    return 0 if killed == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
