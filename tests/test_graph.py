"""pagerank vs an independent numpy power-iteration mirror on seeded
random digraphs, plus closed-form known answers and invariants."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballista_spark.operators.graph import out_degrees, pagerank


def numpy_pagerank(edges, d=0.85, iters=100):
    """Dense power iteration with uniform dangling redistribution —
    independent of the Spark implementation (matrix form, no joins)."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for a, b in edges:  # parallel edges accumulate
        M[idx[b], idx[a]] += 1.0
    colsum = M.sum(axis=0)
    out = colsum > 0
    M[:, out] /= colsum[out]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[~out].sum() / n
        r = (1 - d) / n + d * (M @ r + dangling)
    return {v: r[idx[v]] for v in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_cycle_is_uniform(spark):
    got = _run(spark, [(0, 1), (1, 2), (2, 0)])
    for v in got.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)


def test_star_known_answer(spark):
    # leaves 1..3 each link to hub 0; hub is dangling
    edges = [(1, 0), (2, 0), (3, 0)]
    got = _run(spark, edges, max_iters=80, tol=1e-12)
    want = numpy_pagerank(edges, iters=500)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert got[0] > got[1] == pytest.approx(got[2], abs=1e-12)


def test_random_digraphs_match_numpy(spark):
    rng = random.Random(41)
    for trial in range(2):
        n = 30 + 10 * trial
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(4 * n)
        ]  # includes self-loops and parallel edges by construction
        got = _run(spark, edges, max_iters=50, tol=1e-11)
        want = numpy_pagerank(edges, iters=300)
        assert set(got) == set(want)
        for v in got:
            assert got[v] == pytest.approx(want[v], abs=1e-8), f"node {v}"


def test_ranks_sum_to_one(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(50)]
    got = _run(spark, edges, max_iters=10)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_parallel_edges_count_as_multiplicity(spark):
    single = _run(spark, [(0, 1), (0, 2)], max_iters=40, tol=1e-12)
    doubled = _run(spark, [(0, 1), (0, 1), (0, 2)], max_iters=40, tol=1e-12)
    assert doubled[1] > single[1]
    assert doubled[1] == pytest.approx(
        numpy_pagerank([(0, 1), (0, 1), (0, 2)], iters=300)[1], abs=1e-9
    )


def test_out_degrees_includes_sinks(spark):
    df = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "src long, dst long")
    got = {r.node: r.out_deg for r in out_degrees(df).collect()}
    assert got == {0: 2, 1: 1, 2: 0}


def test_invalid_damping_rejected(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


def test_string_node_ids(spark):
    """Host-ranking composition: node ids are host strings."""
    df = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "a.com"), ("c.com", "a.com")],
        "src string, dst string",
    )
    got = {r.node: r.rank for r in pagerank(df, max_iters=100, tol=1e-14).collect()}
    want = numpy_pagerank(
        [("a.com", "b.com"), ("b.com", "a.com"), ("c.com", "a.com")], iters=500
    )
    # the a<->b 2-cycle is near-periodic (|lambda_2| ~ 1), so 100 power
    # iterations close the gap only to ~1e-7
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert got["a.com"] > got["b.com"] > got["c.com"]


def test_fixed_iteration_lazy_path_matches_scalar_path(spark):
    """Convergence mode never changes the arithmetic: tol <= 0 runs the
    rounds with no per-round action, a tiny positive tol adds only the
    L1-delta action per round (dangling mass still a one-row cross join),
    and the iterates must be equal bit-for-bit."""
    from pyspark.sql import functions as F

    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    edges = docs.select(((d * 7 + 3) % 53).alias("src"), ((d * 13 + 5) % 61).alias("dst"))
    lazy = {r.node: r.rank for r in pagerank(edges, max_iters=7, tol=0.0).collect()}
    # tol tiny-but-positive -> one L1-delta action per round, never converging
    scalar = {r.node: r.rank for r in pagerank(edges, max_iters=7, tol=1e-300).collect()}
    assert lazy == scalar
