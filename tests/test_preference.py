"""Preference operators (operators/preference.py): Bradley-Terry MM fit
against an exact numpy mirror, plus win-rate/consistency semantics.
"""

from __future__ import annotations

import numpy as np
import pytest

from ballista_spark.operators.preference import (
    bt_strengths,
    judgment_consistency,
    win_rate_table,
)


def _bt_mirror(n_items, games, max_iters=30, tol=1e-7, smoothing=0.1):
    """Straight Hunter-2004 MM with the module's exact anchor smoothing
    and mean-1 normalization.  ``games``: {(i, j): (n_ij, wins_i)} with
    i < j."""
    wins = np.full(n_items, smoothing)
    for (i, j), (n, wi) in games.items():
        wins[i] += wi
        wins[j] += n - wi
    pi = np.ones(n_items)
    for _ in range(max_iters):
        den = 2.0 * smoothing / (pi + 1.0)
        for (i, j), (n, _wi) in games.items():
            den[i] += n / (pi[i] + pi[j])
            den[j] += n / (pi[i] + pi[j])
        raw = wins / den
        delta = np.abs(raw - pi).sum()
        pi = raw / (raw.sum() / n_items)
        if delta < tol * n_items:
            break
    return pi


#: tests run few MM rounds (each round costs ~1s of scheduling on tiny
#: data); the mirror replays the SAME count, so parity stays exact
_ITERS = 8


def _fit(spark, rows, **kw):
    kw.setdefault("max_iters", _ITERS)
    df = spark.createDataFrame(rows, "key_a long, key_b long, wins_a double")
    got = bt_strengths(df, **kw)
    return {r["item"]: r["strength"] for r in got.collect()}


def test_bt_matches_numpy_mirror_exactly(spark):
    """Seeded round-robin comparisons over 8 items: the distributed fit
    reproduces the mirror to float accumulation noise."""
    rng = np.random.default_rng(7)
    true = np.exp(rng.normal(0, 1, 8))
    rows, games = [], {}
    for i in range(8):
        for j in range(i + 1, 8):
            n = 12
            wi = int(rng.binomial(n, true[i] / (true[i] + true[j])))
            games[(i, j)] = (float(n), float(wi))
            rows += [(i, j, 1.0)] * wi + [(i, j, 0.0)] * (n - wi)
    want = _bt_mirror(8, games, max_iters=_ITERS)
    got = _fit(spark, rows)
    for i in range(8):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    # mean-1 normalization
    assert np.mean(list(got.values())) == pytest.approx(1.0, abs=1e-9)


def test_bt_recovers_transitive_ordering(spark):
    """A dominant chain a>b>c>d with decisive wins must come out in
    strength order."""
    rows = []
    for hi_, lo_ in [(0, 1), (1, 2), (2, 3), (0, 2), (1, 3), (0, 3)]:
        rows += [(hi_, lo_, 1.0)] * 9 + [(hi_, lo_, 0.0)] * 1
    got = _fit(spark, rows)
    assert got[0] > got[1] > got[2] > got[3]


def test_bt_orientation_invariance(spark):
    """(a, b, win=1) and (b, a, win=0) are the same observation."""
    rows_fwd = [(0, 1, 1.0)] * 7 + [(0, 1, 0.0)] * 3
    rows_rev = [(1, 0, 0.0)] * 7 + [(1, 0, 1.0)] * 3
    assert _fit(spark, rows_fwd) == pytest.approx(_fit(spark, rows_rev))


def test_bt_preaggregated_counts_match_row_per_game(spark):
    rows = [(0, 1, 1.0)] * 7 + [(0, 1, 0.0)] * 3 + [(1, 2, 1.0)] * 5 + [
        (1, 2, 0.0)
    ] * 5
    per_game = _fit(spark, rows)
    agg = spark.createDataFrame(
        [(0, 1, 7.0, 3.0), (1, 2, 5.0, 5.0)],
        "key_a long, key_b long, wins_a double, wins_b double",
    )
    got = {
        r["item"]: r["strength"]
        for r in bt_strengths(agg, wins_b="wins_b", max_iters=_ITERS).collect()
    }
    assert got == pytest.approx(per_game)


def test_bt_undefeated_item_stays_finite(spark):
    """Without the anchor an undefeated item diverges; with it the fit
    stays finite and still ranks the undefeated item on top."""
    rows = [(0, 1, 1.0)] * 10 + [(1, 2, 1.0)] * 5 + [(1, 2, 0.0)] * 5
    got = _fit(spark, rows)
    assert np.isfinite(list(got.values())).all()
    assert got[0] > got[1]


def test_bt_ties_as_half_wins(spark):
    rows = [(0, 1, 0.5)] * 10  # all ties → equal strengths
    got = _fit(spark, rows)
    assert got[0] == pytest.approx(got[1], abs=1e-9)


def test_smoothing_zero_rejected(spark):
    df = spark.createDataFrame([(0, 1, 1.0)], "key_a long, key_b long, wins_a double")
    with pytest.raises(ValueError, match="smoothing"):
        bt_strengths(df, smoothing=0.0)


def test_win_rate_table(spark):
    rows = [(0, 1, 1.0)] * 7 + [(1, 0, 1.0)] * 3  # canonicalized: 7-3
    df = spark.createDataFrame(rows, "key_a long, key_b long, wins_a double")
    [r] = win_rate_table(df).collect()
    assert (r["lo"], r["hi"], r["n_games"], r["wins_lo"]) == (0, 1, 10.0, 7.0)
    assert r["win_rate_lo"] == pytest.approx(0.7)


def test_judgment_consistency(spark):
    rows = (
        [(0, 1, 1.0)] * 4 + [(1, 0, 0.0)] * 4  # 8 agreeing judgments
        + [(0, 1, 0.0)] * 2  # 2 dissents
        + [(2, 3, 1.0)] * 3  # unanimous pair
    )
    df = spark.createDataFrame(rows, "key_a long, key_b long, wins_a double")
    got = {(r["lo"], r["hi"]): r for r in judgment_consistency(df).collect()}
    assert got[(0, 1)]["n_judgments"] == 10
    assert got[(0, 1)]["majority_share"] == pytest.approx(0.8)
    assert not got[(0, 1)]["unanimous"]
    assert got[(2, 3)]["unanimous"]


def test_self_comparisons_ignored(spark):
    rows = [(0, 0, 1.0)] * 5 + [(0, 1, 1.0)] * 2 + [(0, 1, 0.0)] * 2
    df = spark.createDataFrame(rows, "key_a long, key_b long, wins_a double")
    assert win_rate_table(df).count() == 1
    got = {r["item"] for r in bt_strengths(df).collect()}
    assert got == {0, 1}


def test_fixed_iteration_lazy_path_matches_scalar_path(spark):
    """Convergence mode never changes the arithmetic: tol <= 0 runs the
    rounds with no per-round action, a tiny positive tol adds only the
    L1-delta action per round (normalizer still a one-row cross join),
    and the strengths must be equal bit-for-bit."""
    from pyspark.sql import functions as F

    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    pairs = docs.select(
        F.pmod(d, F.lit(7)).alias("key_a"),
        F.pmod(F.pmod(d * 13 + 5, F.lit(11)), F.lit(7)).alias("key_b"),
        F.pmod(d, F.lit(2)).cast("double").alias("wins_a"),
    )
    lazy = {r.item: r.strength for r in bt_strengths(pairs, max_iters=5, tol=0.0).collect()}
    scalar = {
        r.item: r.strength for r in bt_strengths(pairs, max_iters=5, tol=1e-300).collect()
    }
    assert lazy == scalar
