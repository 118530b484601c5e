"""The iterative-fit driver (``operators/iterate.py``): the per-fit job
budget of the five fits that run on it, and its fit record."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from ballista_spark.operators.classify import softmax_fit
from ballista_spark.operators.dedup import connected_components
from ballista_spark.operators.graph import pagerank
from ballista_spark.operators.preference import bt_strengths
from ballista_spark.operators.quality import logreg_fit


def fit_inputs(spark):
    return {
        "edges": spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], "src long, dst long"
        ),
        "pairs": spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 0.0), (2, 0, 1.0), (0, 2, 1.0), (1, 0, 0.0)],
            "key_a long, key_b long, wins_a double",
        ),
        # a 40-link chain: no round count below 6 converges
        "chain": spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "key_a long, key_b long"
        ),
        "feats": spark.createDataFrame(
            [(k, b, 1.0) for k in range(6) for b in (k % 3, 5)],
            "key long, bucket long, x double",
        ),
        "labels": spark.createDataFrame(
            [(k, k % 2) for k in range(6)], "key long, label long"
        ),
    }


#: fit → (its call at a round count, a round count r, the jobs it
#: launches at 0 and at r rounds, the same at commit 1f4a9df, before the
#: fits shared ``iterate``, measured the same way).  tol=1e-300 never
#: converges, so the round count is exact; the classifiers need 2 rounds
#: to show the broadcast hint on the previous round's weights, a job of
#: its own.
_FITS = {
    "pagerank_tol0": (
        lambda d, r: pagerank(d["edges"], max_iters=r, tol=0.0), 2, (1, 1), (1, 1)
    ),
    "pagerank_tol": (
        lambda d, r: pagerank(d["edges"], max_iters=r, tol=1e-300), 1, (1, 2), (2, 3)
    ),
    "bt_strengths_tol0": (
        lambda d, r: bt_strengths(d["pairs"], max_iters=r, tol=0.0), 2, (1, 1), (1, 1)
    ),
    "bt_strengths_tol": (
        lambda d, r: bt_strengths(d["pairs"], max_iters=r, tol=1e-300),
        1,
        (1, 2),
        (1, 2),
    ),
    "connected_components": (
        lambda d, r: connected_components(d["chain"], max_iter=r), 1, (0, 1), (1, 3)
    ),
    "logreg_fit": (
        lambda d, r: logreg_fit(d["feats"], d["labels"], n_iters=r), 2, (1, 5), (1, 9)
    ),
    "softmax_fit": (
        lambda d, r: softmax_fit(d["feats"], d["labels"], n_iters=r), 2, (4, 8), (4, 10)
    ),
}


@contextmanager
def one_job_per_action(spark):
    """With AQE on, every shuffle stage and broadcast is a job of its own;
    with AQE and size-based broadcast joins off, a job is one driver
    action (or one explicit broadcast hint)."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def job_stages(sc, group, call) -> list[list[int]]:
    """The stage ids of each job ``call()`` launches."""
    sc.setJobGroup(group, group)
    try:
        call()
    except RuntimeError:  # connected_components short of convergence
        pass
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [list(st.getJobInfo(j).stageIds) for j in st.getJobIdsForGroup(group)]


@pytest.mark.parametrize("fit", list(_FITS))
def test_fit_job_budget(spark, fit):
    """Jobs one fit launches at 0 and at r rounds: one action per round
    for a converging fit, none at a fixed round count, and never more
    than before the fits shared ``iterate``."""
    call, rounds, budget, before = _FITS[fit]
    with one_job_per_action(spark):
        d = fit_inputs(spark)
        got = tuple(
            len(job_stages(spark.sparkContext, f"budget-{fit}-{r}", lambda: call(d, r)))
            for r in (0, rounds)
        )
    assert got == budget
    assert got[0] <= before[0] and got[1] <= before[1]
    if fit.endswith("tol0"):
        assert got[1] == got[0]
    if fit in ("pagerank_tol", "bt_strengths_tol", "connected_components"):
        assert got[1] - got[0] == rounds


def test_pagerank_node_set_job_budget(spark):
    """With AQE on, where every shuffle stage is a job of its own, a
    zero-round PageRank derives its node set once: the count of the
    checkpointed node frame runs the union / distinct / degree-join
    stages, and the first ranks are a projection over that checkpoint,
    not a second pass through them."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    edges = fit_inputs(spark)["edges"]
    jobs = job_stages(
        spark.sparkContext, "pagerank-aqe", lambda: pagerank(edges, max_iters=0)
    )
    assert len(jobs) == 8


def test_fit_record(spark, caplog):
    """One record per fit on ``ballista_spark.fit``: a 4-node cycle's
    uniform ranks converge long before the round cap."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    caplog.set_level("INFO", logger="ballista_spark.fit")
    pagerank(edges, max_iters=20, tol=1e-6)
    (record,) = [r for r in caplog.records if r.name == "ballista_spark.fit"]
    assert record.operator == "pagerank"
    assert record.converged is True
    assert 1 <= record.rounds < 20
    assert record.delta < 1e-6 and record.seconds >= 0
