"""Preference-data operators: Bradley-Terry strength fitting, win-rate
tables, and judgment-consistency screening.

RLHF / DPO / arena-style pipelines compare generations pairwise
(chosen/rejected, model A vs model B, annotator votes).  Turning those
comparisons into per-item strengths is the Bradley-Terry model, and the
standard scalable fit is Hunter's MM algorithm (Hunter 2004, "MM
algorithms for generalized Bradley-Terry models"):

    pi_i' = W_i / sum_j n_ij / (pi_i + pi_j)

where W_i = total wins of item i and n_ij = games between i and j.
That update is exactly one aggregation over the comparison graph per
round — the same distributed shape as ``graph.pagerank``:

- comparisons collapse ONCE into undirected per-pair totals
  (lo, hi, n_games, wins_lo) and are checkpointed; every round reuses
  that frame.
- one round = TWO edge-sized hash joins (both endpoint strengths onto
  the pair list — BT needs pi_i + pi_j, unlike PageRank's source-only
  rank) + ONE groupBy(item) sum, then a node-sized update join with the
  normalizer as a one-row aggregate cross-joined on.  With ``tol > 0``
  the round's one action is the node-sized L1 delta; a fixed round
  count runs none.  Strengths live distributed; rounds run through
  ``iterate.iterate``, which owns the per-round checkpoint.

Identifiability and disconnected graphs: the MM update is only defined
on a strongly connected comparison graph (an undefeated item's strength
diverges).  ``smoothing`` adds a virtual win AND loss against a fixed
anchor of strength 1 to every item — the standard conjugate-prior
remedy; it keeps every strength finite/positive and is replayed
EXACTLY by the numpy mirror in tests.

Reference parity: the reference ships no preference/ranking operators
(`rust/core/proto/ballista.proto` — relational surface only); this is
pipeline-completing functionality beside classify/graph/chat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballista_spark.operators.iterate import iterate

__all__ = [
    "bt_strengths",
    "win_rate_table",
    "judgment_consistency",
]


def _pair_totals(
    pairs: DataFrame, key_a: str, key_b: str, wins_a: str, wins_b: str | None
) -> DataFrame:
    """(lo, hi, n, w_lo): undirected per-pair totals — the one shuffle
    that collapses raw comparisons into the MM algorithm's sufficient
    statistics."""
    a, b = F.col(key_a), F.col(key_b)
    wa = F.col(wins_a).cast("double")
    wb = (
        F.col(wins_b).cast("double")
        if wins_b is not None
        else F.lit(1.0) - wa
    )
    lo = F.when(a <= b, a).otherwise(b)
    hi = F.when(a <= b, b).otherwise(a)
    w_lo = F.when(a <= b, wa).otherwise(wb)
    w_hi = F.when(a <= b, wb).otherwise(wa)
    return (
        pairs.where(a != b)  # self-comparisons carry no information
        .select(lo.alias("lo"), hi.alias("hi"), w_lo.alias("__wl"), w_hi.alias("__wh"))
        .groupBy("lo", "hi")
        .agg(
            (F.sum("__wl") + F.sum("__wh")).alias("n"),
            F.sum("__wl").alias("w_lo"),
        )
    )


def bt_strengths(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    wins_a: str = "wins_a",
    wins_b: str | None = None,
    max_iters: int = 30,
    tol: float = 1e-7,
    smoothing: float = 0.1,
) -> DataFrame:
    """(item, strength) — Bradley-Terry strengths from pairwise
    comparisons, normalized to MEAN 1 (so strength is directly a
    relative skill multiplier and the output is scale-free).

    ``wins_a`` counts item-a wins per row (a 0/1 verdict column works —
    ties as 0.5); ``wins_b`` defaults to ``1 - wins_a`` for
    one-comparison-per-row layouts, or names a second count column for
    pre-aggregated (a, b, wins_a, wins_b) tables.  See the module doc
    for the per-round shuffle budget and the ``smoothing`` contract.
    """
    if smoothing <= 0:
        raise ValueError(
            f"smoothing must be > 0 (identifiability anchor), got {smoothing}"
        )
    # lazily checkpointed: the state.count() below is a full-pass action
    # whose lineage includes totals, so ONE job materializes both
    totals = _pair_totals(pairs, key_a, key_b, wins_a, wins_b).localCheckpoint(
        eager=False
    )
    items = (
        totals.select(F.col("lo").alias("item"))
        .unionAll(totals.select(F.col("hi").alias("item")))
        .distinct()
    )
    # W_i: total real wins per item, + the virtual anchor win
    wins = (
        totals.select(F.col("lo").alias("item"), F.col("w_lo").alias("__w"))
        .unionAll(
            totals.select(
                F.col("hi").alias("item"), (F.col("n") - F.col("w_lo")).alias("__w")
            )
        )
        .groupBy("item")
        .agg(F.sum("__w").alias("__wins"))
    )
    state = (
        items.join(wins, "item", "left")
        .select(
            "item",
            (F.coalesce("__wins", F.lit(0.0)) + F.lit(smoothing)).alias("__wins"),
            F.lit(1.0).alias("pi"),
        )
        .localCheckpoint(eager=False)
    )
    n_items = state.count()
    if n_items == 0:
        return items.select("item", F.lit(1.0).alias("strength"))

    # the L1 delta needs each round's previous strength and raw update; a
    # fixed round count (tol <= 0) carries neither and runs no action
    prev = [F.col("pi").alias("__prev")] if tol > 0 else []
    carry = ["__raw", "__prev"] if tol > 0 else []

    def step(state: DataFrame) -> DataFrame:
        lo_pi = state.select(F.col("item").alias("lo"), F.col("pi").alias("__plo"))
        hi_pi = state.select(F.col("item").alias("hi"), F.col("pi").alias("__phi"))
        joined = totals.join(lo_pi, "lo").join(hi_pi, "hi")
        denom_part = F.col("n") / (F.col("__plo") + F.col("__phi"))
        denom = (
            joined.select(F.col("lo").alias("item"), denom_part.alias("__d"))
            .unionAll(joined.select(F.col("hi").alias("item"), denom_part.alias("__d")))
            .groupBy("item")
            .agg(F.sum("__d").alias("__den"))
        )
        stepped = (
            state.join(denom, "item", "left")
            .select(
                "item",
                "__wins",
                *prev,
                (
                    F.col("__wins")
                    / (
                        F.coalesce("__den", F.lit(0.0))
                        # virtual anchor: one win + one loss vs strength 1
                        + F.lit(2.0 * smoothing) / (F.col("pi") + F.lit(1.0))
                    )
                ).alias("__raw"),
            )
            # checkpointed so its two consumers (the normalizer agg and
            # the update select) read ONE computed copy, not two
            .localCheckpoint(eager=False)
        )
        # the normalizer rides as a ONE-ROW aggregate cross-joined onto
        # the update (constant volume at any scale)
        scale = stepped.agg((F.sum("__raw") / F.lit(float(n_items))).alias("__scale"))
        return stepped.crossJoin(scale).select(
            "item", "__wins", (F.col("__raw") / F.col("__scale")).alias("pi"), *carry
        )

    def l1(state: DataFrame) -> float:
        d = state.agg(F.sum(F.abs(F.col("__raw") - F.col("__prev"))))
        return float(d.first()[0])

    state = iterate(state, step, max_iters, tol * n_items, l1 if prev else None).state
    return state.select("item", F.col("pi").alias("strength"))


def win_rate_table(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    wins_a: str = "wins_a",
    wins_b: str | None = None,
) -> DataFrame:
    """(lo, hi, n_games, wins_lo, win_rate_lo) — the per-matchup summary
    behind arena leaderboards; one hash aggregation."""
    return _pair_totals(pairs, key_a, key_b, wins_a, wins_b).select(
        "lo",
        "hi",
        F.col("n").alias("n_games"),
        F.col("w_lo").alias("wins_lo"),
        (F.col("w_lo") / F.col("n")).alias("win_rate_lo"),
    )


def judgment_consistency(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    verdict: str = "wins_a",
) -> DataFrame:
    """(lo, hi, n_judgments, majority_share, unanimous) per repeatedly-
    judged pair — the annotator-noise screen run before fitting: pairs
    whose majority_share is near 0.5 are coin flips and a preference
    dataset keeps or downweights them deliberately, not by accident.

    Verdicts are canonicalized to the (lo, hi) orientation first, so
    (a, b, 1) and (b, a, 0) agree.  One hash aggregation."""
    a, b = F.col(key_a), F.col(key_b)
    v = F.col(verdict).cast("double")
    lo = F.when(a <= b, a).otherwise(b)
    hi = F.when(a <= b, b).otherwise(a)
    v_lo = F.when(a <= b, v).otherwise(F.lit(1.0) - v)
    g = (
        pairs.where(a != b)
        .select(lo.alias("lo"), hi.alias("hi"), v_lo.alias("__v"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("n_judgments"), F.sum("__v").alias("__w"))
    )
    share = F.col("__w") / F.col("n_judgments")
    maj = F.greatest(share, F.lit(1.0) - share)
    return g.select(
        "lo",
        "hi",
        "n_judgments",
        maj.alias("majority_share"),
        (maj >= 1.0).alias("unanimous"),
    )
