"""Self-tests of the benchmark. From the checkout root:

    python3 -m pytest perfbench/selftest.py -q

The file name keeps these tests out of the program's own pytest run. The
smoke tests start Spark at the benchmark's own size; a ``kg_build`` run
takes about a minute and a half, because its cost is its Spark job count.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import spans  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_on_nested_span_tree():
    c = FakeClock()
    t = spans.Tracer(clock=c)
    facts = t.open("facts")                 # 0 .. 10
    c.now = 1
    first = t.open("closure")               # 1 .. 3
    c.now = 3
    t.close(first)
    c.now = 4
    second = t.open("closure")              # 4 .. 7
    c.now = 5
    commit = t.open("catalog.commit")       # 5 .. 6
    c.now = 6
    t.close(commit)
    c.now = 7
    t.close(second)
    c.now = 10
    t.close(facts)

    assert t.self_time(facts) == 5          # 10 - (2 + 3)
    assert t.self_time(second) == 2         # 3 - 1
    assert t.self_time(commit) == 1
    stats = {t.group_id(facts): {"jobs": 3, "busy_s": 8.0, "gc_s": 0.5,
                                 "shuffle_write_mb": 1.0, "spill_mb": 0.0}}
    m = t.layer_metrics(stats, cores=4)
    assert m["facts.self_s"] == 5
    assert m["closure.self_s"] == 4
    assert m["catalog.commit.self_s"] == 1
    assert m["facts.jobs"] == 3
    assert m["facts.idle_share"] == pytest.approx(1 - 8.0 / (5 * 4))
    assert m["linking.self_s"] == 0 and m["linking.idle_share"] == 0
    assert t.count("closure") == 2
    assert t.coverage(0, 20) == 0.5


def test_overlapping_children_are_covered_once():
    assert spans._union_length([(0, 2), (1, 3), (5, 6), (9, 12)], 0, 10) == 5


def test_stage_write_opens_commit_child_after_the_data_write():
    t = spans.Tracer()

    class Writer:
        def parquet(self, path):
            return path

    class Catalog:
        def write(self, name, df):
            Writer().parquet(name)
            assert t.stack[-1].layer == "catalog.commit"
            return df

    with spans.patched([
        (Catalog, "write", lambda fn: spans._stage_write(t, fn)),
        (Writer, "parquet", lambda fn: spans._parquet_write(t, fn)),
    ]):
        Catalog().write("class_mapping", None)
        Writer().parquet("outside a stage")
    assert [(s.layer, s.parent) for s in t.spans] == [
        ("taxonomy", None), ("catalog.commit", 0)]
    assert t.commit_spans() == 1 and not t.stack


def _current(owner, attr):
    return vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_wrappers_removed_after_tracing():
    targets = spans.pipeline_targets(spans.Tracer())
    before = {(o, a): _current(o, a) for o, a, _ in targets}
    with spans.patched(targets):
        for (o, a), orig in before.items():
            assert _current(o, a) is not orig
            assert _current(o, a).__wrapped__ is orig
    for (o, a), orig in before.items():
        assert _current(o, a) is orig
    with pytest.raises(RuntimeError), spans.patched(targets):
        raise RuntimeError("traced run failed")
    for (o, a), orig in before.items():
        assert _current(o, a) is orig


def test_benchmark_json_lists_every_traced_metric():
    listed = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert listed == spans.per_layer_units()
    assert len(spans.LAYERS) == 16
    assert "session.jobs" not in listed


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "kg_build", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
