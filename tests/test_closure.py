"""Fixpoint closure unit tests — cycles, deep chains, keyed closure
(reference: transitive_closure / transitive_closure_pair,
src/plan.rs:2252-2299; the frontier-only checkpoint strategy must not
change results)."""

from __future__ import annotations

import pytest

from yago4_spark.operators.closure import (
    ClosureDidNotConverge,
    transitive_closure,
    transitive_closure_pair,
    transitive_reduction_step,
)


def nodes(df):
    return {r[0] for r in df.collect()}


def test_closure_cycle_terminates(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = nodes(transitive_closure(seeds, edges))
    assert got == {1, 2, 3, 4}


def test_closure_deep_chain(spark):
    depth = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = nodes(transitive_closure(seeds, edges))
    assert got == set(range(depth + 1))


def test_closure_iteration_cap(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ClosureDidNotConverge):
        transitive_closure(seeds, edges, max_iterations=3)


def test_closure_pair_keyed(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string")
    pairs = spark.createDataFrame(
        [(1, "b"), (2, "x"), (3, "lone")], "key int, node string")
    got = {tuple(r) for r in transitive_closure_pair(pairs, edges).collect()}
    assert got == {
        (1, "b"), (1, "c"), (1, "d"),
        (2, "x"), (2, "y"),
        (3, "lone"),
    }


def test_transitive_reduction_step(spark):
    # a->b, b->c, a->c : the direct a->c edge is implied, dropped
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "child string, parent string")
    got = {tuple(r) for r in transitive_reduction_step(edges).collect()}
    assert got == {("a", "b"), ("b", "c")}


@pytest.mark.parametrize("keyed", [False, True], ids=["node", "key_node"])
def test_resumable_closure_equivalence_and_resume(spark, tmp_path, keyed):
    """transitive_closure_resumable == its in-memory twin on the same
    graph (transitive_closure for ``node`` seeds, transitive_closure_pair
    for keyed ``(key, node)`` seeds, whose key column must be carried);
    after an interrupted run (iteration cap hit mid-closure) a
    rerun RESUMES from the committed frontiers — the already-done
    iterations are not recomputed (their _MANIFEST files are untouched)
    — and completes to the identical result. A third run after
    convergence does zero join work (returns from the committed state).
    The disk commit reports the expected (iteration, frontier size)
    sequence across the interrupted run and its resume; for ``node``
    seeds the in-memory commit reports the same one.
    """
    import json
    import os

    from yago4_spark.operators.closure import (
        ClosureDidNotConverge,
        transitive_closure,
        transitive_closure_resumable,
    )

    # chain 0→1→...→9 plus a cycle 9→4: depth 10, cycle-safe
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(9, 4)], "src long, dst long")
    if keyed:
        # key 2 starts on the cycle 4→…→9→4, so its walk ends after five
        # iterations while key 1's runs all ten
        seeds = spark.createDataFrame([(1, 0), (2, 5)], "key long, node long")
        steps = ([(i, 2) for i in range(5)] + [(i, 1) for i in range(5, 9)]
                 + [(9, 0)])
        expect = {tuple(r) for r in
                  transitive_closure_pair(seeds, edges).collect()}
    else:
        seeds = spark.createDataFrame([(0,)], "node long")
        steps = [(i, 1) for i in range(9)] + [(9, 0)]
        in_memory = []
        expect = {tuple(r) for r in transitive_closure(
            seeds, edges,
            on_iteration=lambda i, n: in_memory.append((i, n))).collect()}
        assert in_memory == steps
    on_disk = []

    ckpt = str(tmp_path / "closure")
    # "crash" after 4 committed iterations (cap acts as the crash)
    try:
        transitive_closure_resumable(
            seeds, edges, ckpt, max_iterations=4,
            on_iteration=lambda i, n: on_disk.append((i, n)))
        raise AssertionError("expected the iteration cap to trip")
    except ClosureDidNotConverge:
        pass
    done = sorted(os.listdir(ckpt))
    assert len(done) == 5  # frontier=0 (seeds) .. frontier=4
    mtimes = {d: os.path.getmtime(os.path.join(ckpt, d, "_MANIFEST.json"))
              for d in done}

    resumed = transitive_closure_resumable(
        seeds, edges, ckpt,
        on_iteration=lambda i, n: on_disk.append((i, n)))
    assert resumed.columns == seeds.columns
    assert {tuple(r) for r in resumed.collect()} == expect
    assert on_disk == steps
    # the pre-crash iterations were NOT recomputed
    for d in done:
        assert os.path.getmtime(
            os.path.join(ckpt, d, "_MANIFEST.json")) == mtimes[d]

    # post-convergence rerun: converged marker (empty frontier) short-
    # circuits; result identical, no new iteration dirs
    n_dirs = len(os.listdir(ckpt))
    again = {tuple(r) for r in
             transitive_closure_resumable(seeds, edges, ckpt).collect()}
    assert again == expect
    assert len(os.listdir(ckpt)) == n_dirs
    with open(os.path.join(ckpt, "frontier=0", "_MANIFEST.json")) as f:
        assert json.load(f)["rows"] == seeds.count()
